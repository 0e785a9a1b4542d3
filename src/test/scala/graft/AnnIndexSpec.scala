package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.functions.IvfCells
import graft.operators.Similarity
import graft.operators.Similarity.AnnIndex
import graft.queries.Tables

/** Every [[AnnIndex]] kind, from one table: a written-then-read index
  * searches exactly like the inline index (cell-partitioned, one file
  * per cell, and read only in the probed cells' files for filtered and
  * literal query batches alike under IVF), and a missing or empty part
  * of a written index fails on read with a message naming that part,
  * even after the session has opened the index. */
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

  private def withIndex(kind: String, corpus: => org.apache.spark.sql.DataFrame = emb)(
      body: (AnnIndex, String) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_ann_idx")
    try {
      val idx = fit(kind)
      idx.write(corpus, "vec_id", "embedding", dir.toString)
      body(idx, dir.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  /** The codes scan in `qes` read exactly the files of the cells
    * `queries` probe at `nprobe`, one per cell, selected by a static
    * partition filter. Returns that file count. */
  private def assertProbedOnly(qes: Seq[org.apache.spark.sql.execution.QueryExecution],
      path: String, queries: org.apache.spark.sql.DataFrame, nprobe: Int): Long = {
    val probed = queries.select(explode(IvfCells.cells(col("qv"), cents, nprobe)))
      .distinct().count()
    val scans = scansOf(qes, s"$path/codes")
    assert(scans.size === 1, s"expected one codes scan, got ${scans.size}")
    val (scan, files) = scans.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell")),
      s"no cell partition filter on the codes scan:\n$scan")
    assert(files === probed, s"read $files files for $probed probed cells")
    files
  }

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
        val (fromIdxDf, qes) = plansDuring(back.search(emb, "vec_id", "embedding", queries, 10,
          codes = codes))
        val inline = rows(idx.search(emb, "vec_id", "embedding", queries, 10))
        assert(inline.size === 80)
        assert(rows(fromIdxDf) === inline)
        if (idx.coarse.isDefined) {
          // the cell-partitioned layout, read only in the probed cells
          val cellDirs = new java.io.File(s"$path/codes").listFiles()
            .filter(f => f.isDirectory && f.getName.startsWith("cell="))
          assert(cellDirs.length > 1, s"expected cell=* partition dirs, got ${cellDirs.length}")
          assertProbedOnly(qes, path, queries, 16)
        }
      }
    }
  }

  kinds.filter(_.startsWith("IVF,")).foreach { kind =>
    test(s"AnnIndex $kind: one file per cell, and a literal query batch prunes the scan") {
      // written from four input partitions, so a cell's rows come from
      // several tasks
      withIndex(kind, emb.repartition(4)) { (idx, path) =>
        val cellDirs = new java.io.File(s"$path/codes").listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        assert(cellDirs.nonEmpty, s"no cell=* partition dirs under $path/codes")
        cellDirs.foreach { d =>
          val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
          assert(files.length === 1, s"${d.getName} holds ${files.length} parquet files")
        }
        // a driver-side batch, as an interactive caller sends it: no
        // upstream filter for partition pruning to key on
        val s = spark
        import s.implicits._
        val literal = queries.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.toDF("qid", "qv")
        val (back, codes) = AnnIndex.read(spark, path)
        val (probe, qes) = plansDuring(back.search(emb, "vec_id", "embedding", literal, 10,
          nprobe = 2, codes = codes))
        assert(assertProbedOnly(qes, path, queries, 2) < cellDirs.length)
        assert(rows(probe) === rows(idx.search(emb, "vec_id", "embedding", queries, 10,
          nprobe = 2)))
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
          // the session holds the opened index: a held entry must never
          // mask the failure below
          AnnIndex.read(spark, path)
          assert(jobsDuring(AnnIndex.read(spark, path))._2 === 0, s"$part: warm read")
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
