package perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

/** The benchmark's own tests, run with `python3 perfbench/run.py
  * --self-test`: generators are byte-deterministic per seed and differ
  * across seeds, and every closed-form check passes on a real pass and
  * fails on each deliberately corrupted copy of its outputs. */
object SelfTest {
  private var failures = 0
  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"}  $what")
    if (!ok) failures += 1
  }

  /** SHA-256 of every data file, in part-number order. */
  def digests(dir: File): Seq[String] = {
    val parts = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName.take(10))
    parts.toSeq.map { f =>
      MessageDigest.getInstance("SHA-256").digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map("%02x".format(_)).mkString
    }
  }

  def determinism(spark: SparkSession, work: File, seed: Long): Unit = {
    val gens: Seq[(String, (Long, String) => Unit)] = Seq(
      "events" -> ((s, p) => SparseGen(s, 2000, 3200).write(spark, p, 4)),
      "docs" -> ((s, p) => DocGen(s, 600, 20, 10, 20).write(spark, p, 4)),
      "eval passages" -> ((s, p) => DocGen(s, 600, 20, 10, 20).writeEval(spark, p)),
      "vectors" -> ((s, p) => VecGen(s, 2000, 16, 8, 50).write(spark, p, 4)))
    gens.foreach { case (name, write) =>
      val runs = Seq(seed, seed, seed + 1).zipWithIndex.map { case (s, i) =>
        val dir = new File(work, s"det-$name-$i")
        write(s, dir.getPath)
        digests(dir)
      }
      expect(runs(0).nonEmpty && runs(0) == runs(1), s"$name: same seed gives byte-identical files (${runs(0).size} files)")
      expect(runs(0).zip(runs(2)).forall { case (a, b) => a != b }, s"$name: another seed changes every file")
    }
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val tracer = new Tracer(false, "self-test")
    val env = new Env(o, tracer, new Collector(tracer))
    env.work.mkdirs()
    val code = try {
      env.start()
      determinism(env.spark, env.work, o.seed)
      Main.workloads.filter(w => o.workload.isEmpty || w.name == o.workload).foreach { w =>
        val dir = new File(env.work, w.name)
        w.generate(env, dir)
        val p = w.prepare(env, dir)
        val r = p.pass()
        val fails = r.check()
        expect(fails.isEmpty, s"${w.name}: closed-form checks pass on a real pass ${fails.mkString("; ")}")
        expect(r.corruptions.nonEmpty, s"${w.name}: has corrupted variants")
        r.corruptions.foreach { case (what, run) =>
          val f = run()
          expect(f.nonEmpty, s"${w.name}: $what is caught (${f.headOption.getOrElse("not caught")})")
        }
      }
      println(s"self-test: $failures failure(s)")
      if (failures == 0) 0 else 1
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    finally {
      env.stop()
      Main.deleteTree(env.work)
    }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }
}
