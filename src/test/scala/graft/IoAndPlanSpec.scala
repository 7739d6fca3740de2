package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.RdfIO
import graft.sources.Transcripts
import graft.linking.Gazetteer

class IoAndPlanSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("nquads line parser: literals with spaces, escapes, datatypes, comments") {
    def p(l: String) = Option(RdfIO.parseLine(l)).map(_.toSeq)
    assert(p("""<s> <p> "a b c" <g> .""") ===
      Some(Seq("<s>", "<p>", "\"a b c\"", "<g>")))
    assert(p("""<s> <p> "quote \" inside" .""") ===
      Some(Seq("<s>", "<p>", "\"quote \\\" inside\"")))
    assert(p("""<s> <p> "42"^^<http://www.w3.org/2001/XMLSchema#long> <g> .""") ===
      Some(Seq("<s>", "<p>", "\"42\"^^<http://www.w3.org/2001/XMLSchema#long>", "<g>")))
    assert(p("""_:b0 <p> "x"@en .""") ===
      Some(Seq("_:b0", "<p>", "\"x\"@en")))
    // literal ending in an ESCAPED backslash: quote after \\ still closes
    assert(p("""<s> <p> "a\\" <g> .""") ===
      Some(Seq("<s>", "<p>", "\"a\\\\\"", "<g>")))
    assert(p("""<s> <p> "\\\"" .""") === // escaped backslash then escaped quote
      Some(Seq("<s>", "<p>", "\"\\\\\\\"\"")))
    assert(p("# comment") === None)
    assert(p("   ") === None)
    assert(p("garbage line") === None)
  }

  test("nquads UCHAR escapes canonicalize to raw chars (parity with the " +
      "TriG reader), ECHAR-required codepoints stay escaped") {
    def p(l: String) = Option(RdfIO.parseLine(l)).map(_.toSeq)
    val bs = "\\" // build escapes by concat: scalac decodes \ uXXXX even
                  // in triple quotes
    // \ u00e9 = é: the .nt and .ttl spellings of café must be ONE term
    assert(p(s"""<s> <p> "caf${bs}u00e9" .""") ===
      Some(Seq("<s>", "<p>", "\"café\"")))
    // \ U0001F600 = 😀 (astral plane)
    assert(p(s"""<s> <p> "${bs}U0001F600" .""") ===
      Some(Seq("<s>", "<p>", "\"😀\"")))
    // \ u0022 is a quote — must re-emit as the ECHAR \" to stay valid
    assert(p(s"""<s> <p> "a${bs}u0022b" .""") ===
      Some(Seq("<s>", "<p>", "\"a" + bs + "\"b\"")))
    // an ESCAPED backslash followed by u is NOT a UCHAR
    assert(p(s"""<s> <p> "a$bs${bs}u0041" .""") ===
      Some(Seq("<s>", "<p>", "\"a" + bs + bs + "u0041\"")))
    // UCHARs in IRIs decode too
    assert(p(s"""<http://e/caf${bs}u00e9> <p> "x" .""") ===
      Some(Seq("<http://e/café>", "<p>", "\"x\"")))
  }

  test("nquads write/read roundtrip preserves the triple set") {
    val dir = tmpDir("nq").toString
    val quads = graft.pipeline.Kg.canonicalTriples(spark, TestSpark.sf0001)
      .select("graph", "subj", "pred", "obj")
    RdfIO.writeNQuads(quads, dir)
    val back = RdfIO.readNQuads(spark, dir)
    assert(back.count() === quads.count())
    assert(back.exceptAll(quads).count() === 0)
    assert(quads.exceptAll(back).count() === 0)
  }

  test("rolling_hash registered for SQL via GraftExtensions") {
    GraftExtensions.install(spark)
    val got = spark.sql("SELECT rolling_hash('abc') AS h").head.getLong(0)
    val ref = "abc".getBytes("UTF-8")
      .foldLeft(0L)((h, b) => h * 31L + (b & 0xffL))
    assert(got === ref)
  }

  test("macro expansion is plan-build-time (no UDF in plan)") {
    val df = Seq("World").toDF("x")
      .select(graft.functions.Macros.expand("greet", $"x").as("g"))
    assert(df.as[String].head === "Hello World!")
    assert(!df.queryExecution.executedPlan.toString.contains("UDF"))
    graft.functions.Macros.register("twice", a => concat(a.head, a.head))
    assert(Seq("ab").toDF("x")
      .select(graft.functions.Macros.expand("twice", $"x").as("t"))
      .as[String].head === "abab")
  }

  test("plan quality: column pruning reaches the scan; gazetteer broadcast") {
    // projection of 2 columns must prune the parquet ReadSchema
    val slim = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .filter($"l_quantity" > 10).select($"l_orderkey", $"l_quantity")
    val scan = slim.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), scan)
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)"), scan)
    // mention scan is a broadcast HASH equi-join on the n-gram key —
    // never a nested-loop contains scan (O(rows × surfaces) scale-killer)
    val m = Gazetteer.mentions(
      Transcripts(spark, TestSpark.sf0001),
      Gazetteer(spark, TestSpark.sf0001))
    val mp = m.queryExecution.executedPlan.toString
    assert(mp.contains("BroadcastHashJoin"), mp)
    assert(!mp.contains("BroadcastNestedLoopJoin"), mp)
  }

  test("structured streaming: rule-style transform over a bounded stream") {
    import org.apache.spark.sql.streaming.Trigger
    val schema = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet").schema
    // file stream source wants a directory; stage the single parquet file
    val dir = tmpDir("stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf0001}/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    // per-record projection rule (stateless streaming CONSTRUCT analog)
    val out = stream
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ -> event time
      .withWatermark("ts", "1 hour")
      .select(concat(lit("<urn:ev-"), col("event_id"), lit(">")).as("subj"),
        lit("<http://graft.io/p/type>").as("pred"),
        concat(lit("\""), col("event_type"), lit("\"")).as("obj"))
    val q = out.writeStream.format("memory").queryName("graft_stream_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val n = spark.sql("SELECT count(*) FROM graft_stream_out").head.getLong(0)
    assert(n === 1000)
  }

  test("checkpoint strategy switch: reliable (graft.checkpointDir) and " +
      "local modes agree on iterative closure results") {
    import graft.ops.{NgsOps, PathOps}
    // a chain: closure exercises the doubling rounds (Dataset-level
    // truncation) and seminaive the RDD-level truncateRdd path
    val edges = (0 until 40).map(k => (s"<n$k>", s"<n${k + 1}>"))
      .toDF("s", "o")
    def closure() = PathOps.closure(edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    def semi() = PathOps.closureSeminaive(edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val localC = closure(); val localS = semi()
    val dir = tmpDir("ckpt").toString
    sys.props("graft.checkpointDir") = dir
    try {
      assert(graft.Checkpoints.reliableDir === Some(dir))
      assert(closure() === localC) // reliable mode, same answer
      assert(semi() === localS)    // RDD-level reliable path too
      // the checkpoint dir actually received data (reliable, not local)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .count()
      assert(wrote > 1, "reliable checkpoint wrote nothing")
    } finally sys.props.remove("graft.checkpointDir")
    // back to local mode: still agrees
    assert(closure() === localC)
  }
}
