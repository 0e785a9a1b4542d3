package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{AlignHow, SparseRel}
import graft.sources.SparseIO

/** The paper's own path: event log → one-hot → group-by-sum → aligned
  * add of two time windows → join with a second field's frame → label
  * slice → dense → sparse write and read back. One request is one pass
  * over the whole log. */
object SparseAlgebra extends Workload {
  val name = "sparse_algebra"
  val warmups = 0

  /** What one pass leaves to check: the staged frames and the two
    * aggregates forced inside the timed region. */
  final case class Outputs(early: DataFrame, late: DataFrame, joined: DataFrame,
      slice: DataFrame, dense: Row, back: Row)

  def cellStats(df: DataFrame): Row = df.agg(count(lit(1)), sum("value")).head()
  def roundTrip(df: DataFrame): Row =
    df.agg(count(lit(1)), sum("value"), expr("bit_xor(xxhash64(user_id, col, value))")).head()
  def denseStats(d: DataFrame, labels: Seq[String]): Row =
    d.agg(count(lit(1)), sum(labels.map(c => col(s"`$c`")).reduce(_ + _))).head()

  def check(gen: SparseGen, e: SparseExpect, o: Outputs): Seq[String] = {
    val (sa, sb, sl) = (cellStats(o.early), cellStats(o.late), cellStats(o.slice))
    val catCells = o.joined.filter(col("col").isin(gen.cats: _*)).count()
    Seq(
      s"early window sum ${sa.getDouble(1)} != ${e.early}" -> (sa.getDouble(1) == e.early),
      s"early window nnz ${sa.getLong(0)} != ${e.earlyNnz}" -> (sa.getLong(0) == e.earlyNnz),
      s"late window sum ${sb.getDouble(1)} != ${e.late}" -> (sb.getDouble(1) == e.late),
      s"late window nnz ${sb.getLong(0)} != ${e.lateNnz}" -> (sb.getLong(0) == e.lateNnz),
      s"category nnz $catCells != ${e.nnzCat}" -> (catCells == e.nnzCat),
      s"slice cells ${sl.getLong(0)} != ${e.sliceCells}" -> (sl.getLong(0) == e.sliceCells),
      s"slice sum ${sl.getDouble(1)} != ${e.sliceSum}" -> (sl.getDouble(1) == e.sliceSum),
      s"dense rows ${o.dense.getLong(0)} != ${e.sliceUsers}" -> (o.dense.getLong(0) == e.sliceUsers),
      s"dense sum ${o.dense.getDouble(1)} != ${e.sliceSum}" -> (o.dense.getDouble(1) == e.sliceSum),
      s"round-trip count ${o.back.getLong(0)} != ${e.cells}" -> (o.back.getLong(0) == e.cells),
      s"round-trip sum ${o.back.getDouble(1)} != ${2 * e.events}" -> (o.back.getDouble(1) == 2.0 * e.events),
      s"round-trip hash ${o.back.getLong(2)} != ${e.cellXor}" -> (o.back.getLong(2) == e.cellXor)
    ).collect { case (msg, false) => msg }
  }

  private def gen(env: Env): SparseGen = {
    val users = env.scaled(80000)
    SparseGen(env.opts.seed, users, hot = (1.6 * users).toLong)
  }

  def generate(env: Env, dir: File): Unit =
    gen(env).write(env.spark, new File(dir, "events").getPath, env.files)

  def prepare(env: Env, dir: File): Prepared = {
    val gen = this.gen(env)
    val users = gen.users
    val events = new File(dir, "events").getPath
    val expect = gen.expected
    new Prepared {
      def describe: String =
        s"${gen.total} events, $users users (top user ${gen.n(0)} events), " +
          s"${gen.K} categories, ${gen.P} pages, ${env.files} files"
      private var round = 0

      def pass(): PassResult = {
        import env.span
        val spark = env.spark
        def staged(r: SparseRel) = r.copy(df = env.stage(r.df))
        val ev = spark.read.parquet(events)
        val early = col("ts") < lit(gen.W)
        val idx = Seq("user_id")
        val (a, b, p) = span("core.onehot") {
          (staged(SparseRel.scanEvents(ev.filter(early), "category", idx, Some(gen.cats))),
            staged(SparseRel.scanEvents(ev.filter(!early), "category", idx, Some(gen.cats))),
            staged(SparseRel.scanEvents(ev, "page", idx)))
        }
        val (ga, gb, gp) = span("core.group_sum") {
          (staged(a.groupbySum()), staged(b.groupbySum()), staged(p.groupbySum()))
        }
        val joined = span("core.align") {
          staged(ga.add(gb, AlignHow.Outer).joinAxis1(gp, AlignHow.Outer))
        }
        val slice = span("core.slice") {
          staged(joined.locRange("user_id", lit(gen.sliceLo), lit(gen.sliceHi)))
        }
        val labels = slice.columnUniverse
        val dense = span("core.dense")(denseStats(slice.toDense, labels))
        Main.deleteTree(new File(dir, s"out-$round"))
        round += 1
        val out = new File(dir, s"out-$round").getPath
        span("sources.write")(SparseIO.write(joined, out, rangePartitions = env.files))
        val back = span("sources.read")(roundTrip(SparseIO.read(spark, out).df))
        val o = Outputs(ga.df, gb.df, joined.df, slice.df, dense, back)

        def dropOne(df: DataFrame) = df.exceptAll(df.limit(1))
        def bumpOne(df: DataFrame) = {
          val first = df.limit(1)
          dropOne(df).unionByName(first.withColumn("value", col("value") + 1))
        }
        def readBack = SparseIO.read(spark, out).df
        PassResult(gen.total, () => Nil,
          check = () => check(gen, expect, o),
          counts = () => {
            val files = Option(new File(out, "data").listFiles()).getOrElse(Array.empty[File])
              .filter(_.getName.endsWith(".parquet"))
            Map("core.out_nnz" -> back.getLong(0).toDouble,
              "sources.files_written" -> files.length.toDouble,
              "sources.bytes_per_cell" -> files.map(_.length).sum.toDouble / math.max(1L, back.getLong(0)))
          },
          corruptions = Seq(
            "early window: one cell dropped" -> (() => check(gen, expect, o.copy(early = dropOne(o.early)))),
            "late window: one value perturbed" -> (() => check(gen, expect, o.copy(late = bumpOne(o.late)))),
            "joined: one category cell dropped" -> (() => check(gen, expect,
              o.copy(joined = o.joined.exceptAll(o.joined.filter(col("col").isin(gen.cats: _*)).limit(1))))),
            "slice: one cell dropped" -> (() => check(gen, expect, o.copy(slice = dropOne(o.slice)))),
            "dense: one row dropped" -> (() => check(gen, expect,
              o.copy(dense = denseStats(dropOne(slice.toDense), labels)))),
            "dense: one value perturbed" -> (() => check(gen, expect,
              o.copy(dense = denseStats(slice.copy(df = bumpOne(o.slice)).toDense, labels)))),
            "read back: one row dropped" -> (() => check(gen, expect, o.copy(back = roundTrip(dropOne(readBack))))),
            "read back: one value perturbed" -> (() => check(gen, expect, o.copy(back = roundTrip(bumpOne(readBack))))),
            "read back: two values swapped" -> (() => check(gen, expect, o.copy(back = roundTrip {
              val two = readBack.filter(col("value") =!= lit(1.0)).limit(1)
              val r = two.head()
              val other = readBack.filter(col("value") =!= r.getAs[Double]("value") &&
                col("user_id") =!= r.getAs[Long]("user_id")).limit(1)
              val o2 = other.head()
              readBack.exceptAll(two).exceptAll(other)
                .unionByName(two.withColumn("value", lit(o2.getAs[Double]("value"))))
                .unionByName(other.withColumn("value", lit(r.getAs[Double]("value"))))
            })))))
      }
    }
  }
}
