package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.pipeline.Kg
import graft.sources.RdfIO

/** The session memo recomputes when an input changes and keeps sessions
  * apart, all in one JVM (the server / repeated-`integrate` shape).
  */
class MemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withTempDir[A](f: Path => A): A = {
    val dir = Files.createTempDirectory("graft_memo")
    try f(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  test("overwriting nation.parquet between two calls returns the fresh result") {
    withTempDir { tmp =>
      val dir = tmp.toString
      Seq("events", "documents", "nation").foreach { t =>
        spark.read.parquet(s"${TestSpark.sf0001}/$t.parquet")
          .write.parquet(s"$dir/$t.parquet")
      }
      val cc0 = Kg.aliasCc(spark, dir).count()
      val ct0 = Kg.canonicalTriplesShared(spark, dir).count()
      assert(Kg.aliasCc(spark, dir).count() === cc0) // unchanged input: hit
      // keep a third of the nations: fewer alias nodes and mentions
      val kept = spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
        .filter(col("n_nationkey") % 3 === 0)
      kept.write.mode("overwrite").parquet(s"$dir/nation.parquet")
      val cc1 = Kg.aliasCc(spark, dir).count()
      val ct1 = Kg.canonicalTriplesShared(spark, dir).count()
      assert(cc1 < cc0)
      assert(ct1 < ct0)
      assert(ct1 === Kg.canonicalTriples(spark, dir).count())
    }
  }

  test("rewriting a file between two fs:probeRdf probes flips the answer") {
    withTempDir { tmp =>
      val f = tmp.resolve("data.txt")
      Files.writeString(f, "fn,ln\nMary,Major\n")
      assert(!RdfIO.probeRdfLocal(f.toString))
      Files.writeString(f,
        "<http://www.example.org/s> <http://www.example.org/p> \"o\" .\n")
      assert(RdfIO.probeRdfLocal(f.toString))
    }
  }

  test("a new session does not see another session's entries") {
    val other = spark.newSession()
    var computed = 0
    def probe(s: org.apache.spark.sql.SparkSession) =
      Memo(s, "memospec.count", Seq(s"${TestSpark.sf0001}/nation.parquet")) {
        computed += 1
        computed
      }
    assert(probe(spark) === 1)
    assert(probe(spark) === 1)
    assert(probe(other) === 2)
    assert(probe(spark) === 1)
    val dir = TestSpark.sf0001
    assert(Kg.aliasCc(spark, dir) eq Kg.aliasCc(spark, dir))
    assert(Kg.aliasCc(spark, dir) ne Kg.aliasCc(other, dir))
  }
}
