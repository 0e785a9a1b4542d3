package graft

import org.apache.spark.sql.functions._

import graft.core.{ColUniverse, SparseRel}
import graft.sources.SparseIO

/** Round-trip persistence tests, including the metadata edge cases the
  * hand-rolled JSON parser used to corrupt (labels with commas,
  * quotes, brackets, control chars). */
class SparseIOSpec extends SparkSpecBase {

  private def roundtrip(universe: Seq[String]): SparseRel = {
    import spark.implicits._
    val df = universe.zipWithIndex.map { case (c, i) => (i, c, 1.0) }
      .toDF("k", SparseRel.COL, SparseRel.VALUE)
    val rel = SparseRel(df, Seq("k"), ColUniverse.Explicit(universe))
    val path = s"target/test_io/${universe.hashCode.toHexString}"
    SparseIO.write(rel, path, rangePartitions = 2)
    SparseIO.read(spark, path)
  }

  test("roundtrip preserves index cols, universe order, and cells") {
    val r = roundtrip(Seq("b", "a", "c"))
    assert(r.indexCols === Seq("k"))
    assert(r.columnUniverse === Seq("b", "a", "c"))
    assert(r.df.count() === 3)
  }

  test("a Deferred universe persists as a distributed dims relation, never collected") {
    // event-scan lexicons can hold millions of labels; the sidecar
    // must not inline them, and the read-back universe must stay
    // Deferred (no driver materialization on the round-trip)
    val rel = SparseRel.scanEvents(graft.queries.Tables.events(spark, sf),
      "event_type", Seq("user_id"), None)
    assert(rel.universe.isInstanceOf[ColUniverse.Deferred])
    val path = "target/test_io_deferred"
    SparseIO.write(rel, path, rangePartitions = 2)
    // data and dims open from their footers: reading starts no job
    val (back, jobs) = jobsDuring(SparseIO.read(spark, path))
    assert(jobs === 0, s"reading a parquet SparseRel started $jobs jobs")
    assert(back.universe.isInstanceOf[ColUniverse.Deferred],
      "round-trip degraded the universe to a driver-side list")
    // the dims RELATION matches without ordering assumptions
    val dims = back.universe.dims(spark).collect().map(_.getString(0)).toSet
    assert(dims === graft.queries.Tables.EventTypes.toSet)
    assert(back.df.count() === rel.df.count())
    // and the sidecar itself carries no labels
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_sparse_meta.json")), "UTF-8")
    assert(!meta.contains("click"), s"label leaked into sidecar: $meta")
  }

  test("roundtrip survives hostile labels: commas, quotes, brackets, unicode") {
    val hostile = Seq("""a,b""", """x"y""", "[c]", "back\\slash", "tab\there", "ünïcødé")
    assert(roundtrip(hostile).columnUniverse === hostile)
  }

  test("round-trip holds across parquet/orc/json/csv formats") {
    import spark.implicits._
    val df = Seq((1, "a", 1.5), (2, "b", -2.0), (3, "a", 0.25))
      .toDF("k", SparseRel.COL, SparseRel.VALUE)
    val rel = SparseRel(df, Seq("k"), ColUniverse.Explicit(Seq("a", "b")))
    Seq("parquet", "orc", "json", "csv").foreach { fmt =>
      val path = s"target/test_io/fmt_$fmt"
      SparseIO.write(rel, path, format = fmt)
      val back = SparseIO.read(spark, path)
      assert(back.columnUniverse === Seq("a", "b"), fmt)
      val cells = back.df.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
      assert(cells === Set((1, "a", 1.5), (2, "b", -2.0), (3, "a", 0.25)), fmt)
    }
  }

  test("a sidecar without format and schema fields reads as parquet, with no job") {
    import spark.implicits._
    val rel = SparseRel(Seq((1, "a", 1.5), (2, "b", -2.0)).toDF("k", SparseRel.COL, SparseRel.VALUE),
      Seq("k"), ColUniverse.Explicit(Seq("a", "b")))
    val path = "target/test_io/old_sidecar"
    SparseIO.write(rel, path)
    // the sidecar an older version wrote: parquet-only, no format/schema
    val meta = java.nio.file.Paths.get(path, "_sparse_meta.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(meta.toFile)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove(java.util.List.of("format", "schema", "universeKind"))
    java.nio.file.Files.writeString(meta, node.toString)
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "._sparse_meta.json.crc"))
    val (back, jobs) = jobsDuring(SparseIO.read(spark, path))
    assert(jobs === 0, s"reading started $jobs jobs")
    assert(back.columnUniverse === Seq("a", "b"))
    assert(back.df.collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet ===
      Set((1, "a", 1.5), (2, "b", -2.0)))
  }

  test("range-partitioned write prunes on locRange read") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i, "c", i.toDouble))
      .toDF("k", SparseRel.COL, SparseRel.VALUE)
    val rel = SparseRel(df, Seq("k"), ColUniverse.Explicit(Seq("c")))
    SparseIO.write(rel, "target/test_io/range", rangePartitions = 8)
    val back = SparseIO.read(spark, "target/test_io/range")
    assert(back.locRange("k", lit(100), lit(199)).df.count() === 100)
  }
}
