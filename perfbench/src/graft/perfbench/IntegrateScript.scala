package graft.perfbench

import java.io.{FileOutputStream, PrintStream}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Integrate
import graft.pipeline.Script
import graft.rules.ConstructParser
import graft.sources.RdfIO

/** integrate_script: `Integrate.run([input.nq, script.sparql, -o, out.nq])`.
  * The script LOADs the seeded N-Quads file, then runs star and chain
  * CONSTRUCTs, one GROUP BY SELECT and one OPTIONAL; the CONSTRUCT quads
  * go to the single-file `-o` sink and the SELECT table to its TSV sink.
  */
final class IntegrateScript(spark: SparkSession, in: Path, work: Path, val rowsIn: Long) extends BatchWorkload {
  val name = "integrate_script"
  private val input = in.resolve("input.nq").toString
  private val script = in.resolve("script.sparql").toString
  private val outDir = work.resolve("out")
  Files.createDirectories(outDir)
  private val out = outDir.resolve("out.nq")
  private val tsv = outDir.resolve("select.tsv")
  private val tracedOut = outDir.resolve("traced.nq")
  private val tracedTsv = outDir.resolve("traced.tsv")
  private var last = (out, tsv)

  private def withSink[T](p: Path)(f: PrintStream => T): T = {
    val ps = new PrintStream(new FileOutputStream(p.toFile), false, "UTF-8")
    try f(ps) finally ps.close()
  }

  def op(): Unit = {
    val code = withSink(tsv)(err =>
      Integrate.run(Array(input, script, "-o", out.toString), spark, System.out, err))
    require(code == 0, s"Integrate.run exited with $code")
    last = (out, tsv)
  }

  def observe(): OpOut = {
    val (q, t) = last
    val (n, d) = {
      val s = Files.lines(q)
      try Main.linesDigest(s.iterator().asScala) finally s.close()
    }
    val td = {
      val s = Files.lines(t)
      try Main.linesDigest(s.iterator().asScala)._2 finally s.close()
    }
    OpOut(n, Files.size(q), s"$d/$td")
  }

  /** Short operations: more of them give a steadier median. */
  override def minOps: Int = 6

  def plantFault(): Unit =
    Files.writeString(last._1, "<urn:planted> <urn:planted> <urn:planted> .\n",
      java.nio.file.StandardOpenOption.APPEND)

  override def artifacts: Map[String, String] =
    Map("quads" -> last._1.toString, "table" -> last._2.toString)

  /** Integrate's private N-Quads line projection, repeated here so the
    * traced sink writes exactly what `-o` writes.
    */
  private def quadLines(q: DataFrame): DataFrame = {
    val g = if (q.columns.contains("graph")) q
      else q.withColumn("graph", lit(graft.server.SparqlHttpServer.DefaultGraph))
    RdfIO.nquadLines(g.select(col("graph"), col("subj"), col("pred"), col("obj")))
  }

  def traced(tr: Tracer): Map[String, Double] = {
    val texts = Seq(input, script).map(a => Integrate.substEnv(Integrate.classify(a).text, Map.empty))
    val t0 = System.nanoTime()
    val parts = tr.span("rules", "ConstructParser.parseScriptParts")(
      ConstructParser.parseScriptParts(texts))
    val parseMs = (System.nanoTime() - t0) / 1e6
    val (loads, stmts) = parts.map(_._2).partition(_.isInstanceOf[ConstructParser.LoadStmt])
    tr.span("sources", "RdfIO.readNQuads")(Tracer.noop(RdfIO.readNQuads(spark, input)))
    import spark.implicits._
    var ds = Seq.empty[(String, String, String, String)].toDF("graph", "subj", "pred", "obj")
    loads.foreach(l => ds = Script.applyStmt(spark, ds, l)._1)
    val t1 = System.nanoTime()
    val outputs = tr.span("rules", "Script.applyStmt (plan)")(
      stmts.flatMap(st => Script.applyStmt(spark, ds, st)._2))
    val compileMs = (System.nanoTime() - t1) / 1e6
    tr.span("pipeline", "Script.applyStmt (execute)")(outputs.foreach(o => Tracer.noop(o.df)))
    // the sink's input, materialized outside its span
    val quads = outputs.collect { case Script.QuadsOutput(df) => df.localCheckpoint(eager = true) }
    val tables = outputs.collect { case Script.TableOutput(df) => df.localCheckpoint(eager = true) }
    val t2 = System.nanoTime()
    tr.span("integrate", "Integrate.writeSingleFile") {
      Integrate.writeSingleFile(quads.map(quadLines).reduce(_ unionByName _),
        tracedOut, gzip = false)
      withSink(tracedTsv)(ps => tables.foreach { df =>
        ps.println(df.columns.map("?" + _).mkString("\t"))
        df.toLocalIterator().asScala.foreach(r => ps.println(
          (0 until df.columns.length).map(k =>
            if (r.isNullAt(k)) "" else String.valueOf(r.get(k))).mkString("\t")))
      })
    }
    val sinkS = (System.nanoTime() - t2) / 1e9
    last = (tracedOut, tracedTsv)
    val outRows = (quads ++ tables).map(_.count()).sum
    Map(
      "rules.parse_ms" -> parseMs,
      "rules.compile_ms" -> compileMs,
      "rules.rows_out" -> parts.length.toDouble,
      "sources.rows_out" -> ds.count().toDouble,
      "pipeline.rows_out" -> outRows.toDouble,
      "integrate.rows_out" -> outRows.toDouble,
      "integrate.sink_s" -> sinkS,
      "integrate.bytes_written" -> Files.size(tracedOut).toDouble)
  }
}
