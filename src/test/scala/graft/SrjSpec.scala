package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ResultSetIO

class SrjSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("readSrj decodes uri/bnode/plain/lang/typed; unbound and ghost vars are NULL") {
    val doc =
      """{"head":{"vars":["s","o","ghost"]},
        | "results":{"bindings":[
        |   {"s":{"type":"uri","value":"http://ex.org/a"},
        |    "o":{"type":"literal","value":"plain \"q\""}},
        |   {"s":{"type":"bnode","value":"b0"},
        |    "o":{"type":"literal","value":"hallo","xml:lang":"de"}},
        |   {"s":{"type":"uri","value":"http://ex.org/c"},
        |    "o":{"type":"literal","value":"42","datatype":"http://www.w3.org/2001/XMLSchema#integer"}},
        |   {"s":{"type":"uri","value":"http://ex.org/d"}}
        | ]}}""".stripMargin
    val f = tmpDir("srj").resolve("doc.srj")
    java.nio.file.Files.writeString(f, doc)
    val df = ResultSetIO.readSrj(spark, f.toString)
    assert(df.columns.sorted.toSeq === Seq("ghost", "o", "s"))
    val rows = df.select("s", "o", "ghost").as[(String, String, String)]
      .collect().toSet
    assert(rows === Set(
      ("<http://ex.org/a>", "\"plain \\\"q\\\"\"", null),
      ("_:b0", "\"hallo\"@de", null),
      ("<http://ex.org/c>", "\"42\"^^<http://www.w3.org/2001/XMLSchema#integer>", null),
      ("<http://ex.org/d>", null, null)))
    // raw-values view: lexical forms only
    val vals = ResultSetIO.readSrjValues(spark, f.toString)
      .select("s", "o").as[(String, String)].collect().toSet
    assert(vals.contains(("b0", "hallo")))
    assert(vals.contains(("http://ex.org/d", null)))
  }

  test("readSrjLines splits one big file across tasks and decodes identically") {
    val dir = tmpDir("srjl")
    val lines = dir.resolve("b.jsonl").toString
    ResultSetIO.writeSrjLinesFixture(spark, TestSpark.sf0001, lines)
    val doc = dir.resolve("b.srj").toString
    ResultSetIO.writeSrjFixture(spark, TestSpark.sf0001, doc)
    // force small input splits: the line-oriented scan must fan out
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
      val viaLines = ResultSetIO.readSrjLines(spark, lines)
      assert(viaLines.rdd.getNumPartitions > 1,
        "line-oriented SRJ scan did not split")
      // bit-identical to the document reader on the same logical content
      val viaDoc = ResultSetIO.readSrj(spark, doc)
      assert(viaLines.count() === viaDoc.count())
      assert(viaLines.exceptAll(viaDoc).count() === 0)
      assert(viaDoc.exceptAll(viaLines).count() === 0)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }
}
