package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.operators.Similarity.AnnIndex
import graft.queries.Tables

/** Every [[AnnIndex]] kind, from one table: a written-then-read index
  * searches exactly like the inline index (cell-partitioned and
  * partition-pruned under IVF), and a missing or empty part of a
  * written index fails on read with a message naming that part. */
class AnnIndexSpec extends SparkSpecBase {

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val queries = emb.filter(col("vec_id") < 8)
    .select(col("vec_id").as("qid"),
      Similarity.asDouble(col("embedding")).as("qv"))
  // one coarse quantizer shared by the IVF kinds, as PipelineQueries
  // shares its staged one
  private lazy val cents =
    Similarity.trainIvfCentroids(emb, "vec_id", "embedding", nlist = 32)

  private val kinds = Seq("Flat", "IVF,Flat", "SQ8", "IVF,SQ8", "PQ", "IVF,PQ")

  private def fit(kind: String): AnnIndex =
    AnnIndex.fit(emb, "vec_id", "embedding", kind,
      centroids = if (kind.startsWith("IVF,")) cents else null)

  private def withIndex(kind: String)(body: (AnnIndex, String) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_ann_idx")
    try {
      val idx = fit(kind)
      idx.write(emb, "vec_id", "embedding", dir.toString)
      body(idx, dir.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  private def deep(idx: AnnIndex) = (
    idx.coarse.map(_.map(_.toSeq).toSeq),
    idx.code match {
      case AnnIndex.Pq(books) => Some(books.map(_.map(_.toSeq).toSeq).toSeq)
      case _ => None
    },
    idx.code.column)

  kinds.foreach { kind =>
    test(s"AnnIndex $kind: written-then-read ≡ inline search") {
      withIndex(kind) { (idx, path) =>
        val (back, codes) = AnnIndex.read(spark, path)
        assert(deep(back) === deep(idx), "read must restore the written state")
        val fromIdxDf = back.search(emb, "vec_id", "embedding", queries, 10,
          codes = codes)
        val inline = rows(idx.search(emb, "vec_id", "embedding", queries, 10))
        assert(inline.size === 80)
        assert(rows(fromIdxDf) === inline)
        if (idx.coarse.isDefined) {
          // the cell-partitioned layout, and the probe join reaching the
          // scan as a partition filter: only the probed cells' files
          val cellDirs = new java.io.File(s"$path/codes").listFiles()
            .filter(f => f.isDirectory && f.getName.startsWith("cell="))
          assert(cellDirs.length > 1, s"expected cell=* partition dirs, got ${cellDirs.length}")
          val plan = fromIdxDf.queryExecution.executedPlan.toString
          assert(plan.contains("dynamicpruning"),
            s"expected a dynamic-partition-pruned cell scan in plan:\n$plan")
        }
      }
    }
  }

  kinds.foreach { kind =>
    test(s"AnnIndex $kind: missing or empty index part fails naming it") {
      withIndex(kind) { (idx, path) =>
        val parts = Seq("codes") ++ idx.coarse.map(_ => "centroids") ++
          (idx.code match { case AnnIndex.Pq(_) => Some("codebooks"); case _ => None })
        parts.foreach { part =>
          val dir = Paths.get(path, part)
          val aside = Paths.get(path, s"$part.aside")
          Files.move(dir, aside)
          def failsNaming(state: String): Unit = {
            val e = intercept[IllegalArgumentException](AnnIndex.read(spark, path))
            assert(e.getMessage.contains(dir.toString), s"$state $part: ${e.getMessage}")
          }
          try {
            failsNaming("missing")
            Files.createDirectory(dir)
            failsNaming("empty")
          } finally {
            org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
            Files.move(aside, dir)
          }
        }
      }
    }
  }
}
