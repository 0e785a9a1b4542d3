package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: runMain graft.Verify <sfDir> <outDir> [<query>,...]")
    val (sfDir, outDir) = (args(0), args(1))
    // the committed golden state plus the dir's own `_golden`, read
    // before any query runs so a conflicting state fails first
    val golden = graft.queries.Golden.forDir(sfDir)
    // optional third arg: comma-separated query names, for targeted
    // local iteration (the driver always runs the full set). Unknown
    // names abort: a typo must not produce an empty run that exits 0.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.forall(_(name)) }
      .flatMap { case (name, fn) =>
      // an earlier run's dir must not be scored as this run's result
      fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/$name"), true)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // every query that threw, one per line: tools/selfcheck.py counts
    // each as a fail
    Files.writeString(Paths.get(s"$outDir/_failed"),
      failed.toSeq.sorted.map(_ + "\n").mkString)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSqlFor(golden)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
