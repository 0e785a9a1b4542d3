package perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.streaming.EventStream

/** Streaming near-duplicate ingestion: the corpus is staged as one file
  * per `doc_id % files` class and drained one file per micro-batch
  * against a growing persisted MinHash index (audit mode, size-triggered
  * compaction). One request is one drain; its batches are the
  * micro-batches. */
object StreamIngest extends Workload {
  val name = "stream_ingest"
  val warmups = 0
  val files = 8
  val maxIndexFiles = 4

  private def gen(env: Env): DocGen =
    DocGen(env.opts.seed, env.scaled(10000), env.scaled(300), leaks = 0, evalDocs = 0)

  def generate(env: Env, dir: File): Unit =
    gen(env).write(env.spark, new File(dir, "docs").getPath, env.files)

  def prepare(env: Env, dir: File): Prepared = {
    val gen = this.gen(env)
    val (docs, clusters) = (gen.docs, gen.clusters)
    val docsPath = new File(dir, "docs").getPath
    // audit mode reports a planted pair iff its two docs arrive in
    // different micro-batches
    val expected = gen.nearPairs.filter { case (a, b) => a % files != b % files }
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    @volatile var indexFilesMax = 0L
    @volatile var indexBytes = 0L
    if (env.tracer.enabled) env.collector.onProgress = _ => {
      val dirs = Option(tmp.listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith("graft_neardup_index_"))
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      val data = dirs.toSeq.flatMap(walk).filter(_.getName.endsWith(".parquet"))
      indexFilesMax = math.max(indexFilesMax, data.size.toLong)
      indexBytes = math.max(indexBytes, data.map(_.length).sum)
    }
    new Prepared {
      def describe: String =
        s"$docs docs ($clusters dup clusters of 3, ${expected.size} cross-batch pairs), " +
          s"${env.files} input files, staged as $files micro-batch files, index compaction above $maxIndexFiles files"

      def pass(): PassResult = {
        val spark = env.spark
        val before = env.collector.batches.size
        indexFilesMax = 0L; indexBytes = 0L
        val pairs = env.span("streaming.ingest") {
          env.stage(EventStream.nearDupIngestDrained(spark, spark.read.parquet(docsPath),
            threshold = 0.8, files = files, maxIndexFiles = maxIndexFiles))
        }
        lazy val mine = { env.drainEvents(); env.collector.batches.drop(before).filter(_.inputRows > 0) }
        def check(df: org.apache.spark.sql.DataFrame): Seq[String] = {
          val got = df.select("doc_lo", "doc_hi").collect().map(r => (r.getLong(0), r.getLong(1)))
          Seq(
            s"pairs: ${(expected -- got).size} expected missed, ${(got.toSet -- expected).size} extra" ->
              (got.toSet == expected),
            s"${got.length - got.toSet.size} pairs emitted twice" -> (got.length == got.toSet.size),
            s"${mine.size} micro-batches != $files" -> (mine.size == files)
          ).collect { case (msg, false) => msg }
        }
        PassResult(docs.toLong,
          batches = () => mine.map(_.durations.getOrElse("triggerExecution", 0L) / 1e3),
          check = () => check(pairs),
          counts = () => Map(
            "sources.index_files_max" -> indexFilesMax.toDouble,
            "sources.index_bytes_per_doc" -> indexBytes.toDouble / docs),
          corruptions = Seq(
            "pairs: one dropped" -> (() => check(pairs.exceptAll(pairs.limit(1)))),
            "pairs: one emitted twice" -> (() => check(pairs.unionByName(pairs.limit(1)))),
            "pairs: one id perturbed" -> (() => check(pairs.exceptAll(pairs.limit(1))
              .unionByName(pairs.limit(1).withColumn("doc_hi", col("doc_hi") + 1))))))
      }

      override def probes(): Map[String, Double] =
        Kernels.textKernels(env, env.spark.read.parquet(docsPath))
    }
  }
}
