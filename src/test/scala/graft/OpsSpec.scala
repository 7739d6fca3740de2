package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{NgsOps, SbsOps}

class OpsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def quads = Seq(
    ("<g1>", "<s1>", "<p>", "\"1\""),
    ("<g1>", "<s1>", "<q>", "\"x\""),
    ("<g2>", "<s2>", "<p>", "\"2\""),
    ("<g3>", "<s3>", "<p>", "\"3\""),
    ("<g4>", "<s4>", "<p>", "\"4\"")
  ).toDF("graph", "subj", "pred", "obj")

  test("sbs split partitions bindings by key into per-value directories") {
    val dir = tmpDir("split").toString
    val n = SbsOps.splitWrite(quads, "graph", dir)
    assert(n === 4)
    // one directory per key, each readable and containing only its rows
    val partDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("graph="))
    assert(partDirs.length === 4, partDirs.mkString(","))
    val g1 = spark.read.parquet(
      partDirs.find(_.getName.contains("g1")).get.getAbsolutePath)
    assert(g1.count() === 2)
    val back = spark.read.parquet(dir)
    assert(back.count() === quads.count())
    assert(back.select("graph").distinct().count() === 4)
  }

  test("askFilter keeps whole graphs; drop negates") {
    val kept = NgsOps.askFilter(quads, $"obj" === "\"1\"")
    assert(kept.select("graph").distinct().as[String].collect().toSet === Set("<g1>"))
    assert(kept.count() === 2) // both g1 rows survive (ASK is per-graph)
    val dropped = NgsOps.askFilter(quads, $"obj" === "\"1\"", drop = true)
    assert(dropped.select("graph").distinct().count() === 3)
  }

  test("head/tail partition the graph stream in order") {
    val h = NgsOps.headGraphs(quads, 2).select("graph").distinct()
      .as[String].collect().toSet
    assert(h === Set("<g1>", "<g2>"))
    val t = NgsOps.tailGraphs(quads, 2).select("graph").distinct()
      .as[String].collect().toSet
    assert(t === Set("<g3>", "<g4>"))
    // head ∪ tail = everything, disjoint
    assert((h ++ t).size === 4)
  }

  test("whileGraphs stops at first failing graph; until negates") {
    val w = NgsOps.whileGraphs(quads, $"obj" =!= "\"3\"")
    assert(w.select("graph").distinct().as[String].collect().toSet ===
      Set("<g1>", "<g2>"))
    val u = NgsOps.whileGraphs(quads, $"obj" === "\"3\"", until = true)
    assert(u.select("graph").distinct().as[String].collect().toSet ===
      Set("<g1>", "<g2>"))
    // while(true) keeps everything
    assert(NgsOps.whileGraphs(quads, lit(true))
      .select("graph").distinct().count() === 4)
  }

  test("sortGraphs: deterministic rank, random mode is seed-stable") {
    val r = NgsOps.sortGraphs(quads, count(lit(1)), descending = true)
    val top = r.filter($"rank" === 1).select("graph").as[String].head
    assert(top === "<g1>") // 2 rows
    val rnd1 = NgsOps.sortGraphs(quads, count(lit(1)), random = Some(7L))
      .orderBy("rank").select("graph").as[String].collect()
    val rnd2 = NgsOps.sortGraphs(quads, count(lit(1)), random = Some(7L))
      .orderBy("rank").select("graph").as[String].collect()
    assert(rnd1.sameElements(rnd2))
  }

  test("sortGraphs: no partition-less window; ranks contiguous and ordered") {
    val many = spark.range(0, 1000).selectExpr(
      "concat('<g', lpad(cast(id as string), 4, '0'), '>') AS graph",
      "'<s>' AS subj", "'<p>' AS pred",
      "cast(id % 37 as string) AS obj", "id % 37 AS idx")
    val r = NgsOps.sortGraphs(many, max($"idx"))
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan) // rank never single-threads
    val got = r.orderBy("rank").select("graph").as[String].collect().toSeq
    val expected = many.select($"graph", $"idx").as[(String, Long)].collect()
      .sortBy { case (g, k) => (k, g) }.map(_._1).toSeq
    assert(got === expected)
    assert(r.select("rank").as[Int].collect().sorted.toSeq === (1 to 1000))
  }

  test("sortGraphs -u / -m variants") {
    val u = NgsOps.sortGraphsUnique(quads, count(lit(1)))
    // keys: g1 -> 2 rows, g2/g3/g4 -> 1 row; unique keeps g1 and min(g2..g4)=g2
    assert(u.select("graph").distinct().as[String].collect().toSet ===
      Set("<g1>", "<g2>"))
    val m = NgsOps.sortGraphsMerged(quads, count(lit(1)))
    // g2,g3,g4 merge under g2; g1 stays
    assert(m.select("graph").distinct().as[String].collect().toSet ===
      Set("<g1>", "<g2>"))
    assert(m.count() === quads.count()) // merge re-graphs, never drops
    assert(m.filter($"graph" === "<g2>").count() === 3)
  }

  test("mapToGraph rewrites all graph names") {
    assert(NgsOps.mapToGraph(quads, "<m>").select("graph").distinct()
      .as[String].collect().toSeq === Seq("<m>"))
  }

  test("salted join == plain join on a skewed key distribution") {
    import graft.ops.SaltedJoin
    // 90% of fact rows share one hot key
    val fact = spark.range(0, 5000).selectExpr(
      "id", "CASE WHEN id % 10 < 9 THEN 'hot' ELSE concat('k', id % 7) END AS key")
    val dim = Seq(("hot", 1), ("k0", 2), ("k3", 3), ("k6", 4))
      .toDF("key", "payload")
    val plain = fact.join(dim, "key").select($"id", $"payload")
    val salted = SaltedJoin.inner(fact, dim, "key", Seq($"id"), buckets = 8)
      .select($"id", $"payload")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("bgp pattern with a repeated variable enforces SPARQL equality") {
    import graft.ops.Bgp
    val t = Seq(("<a>", "<p>", "<a>"), ("<a>", "<p>", "<b>"),
      ("<c>", "<q>", "<c>")).toDF("subj", "pred", "obj")
    val r = Bgp.pattern(t, Right("x"), Left("<p>"), Right("x"))
    assert(r.columns.toSeq === Seq("x")) // projected ONCE
    assert(r.as[String].collect().toSeq === Seq("<a>"))
  }

  test("ngs merge/join streams") {
    val b = Seq(
      ("<g1>", "<s9>", "<p>", "\"9\""),
      ("<g9>", "<s9>", "<p>", "\"x\""),
      ("<g1>", "<s1>", "<p>", "\"1\"") // duplicate of a quad in `quads`
    ).toDF("graph", "subj", "pred", "obj")
    val m = NgsOps.mergeStreams(quads, b)
    assert(m.count() === quads.count() + 2) // dup collapsed
    val j = NgsOps.joinStreams(quads, b)
    assert(j.select("graph").distinct().as[String].collect().toSet === Set("<g1>"))
    assert(j.count() === 3) // g1's two quads + <s9> from b
  }

  test("unionHeaders: union of vars, missing = NULL") {
    val a = Seq((1L, "x")).toDF("id", "name")
    val b = Seq((2L, 3.5)).toDF("id", "score")
    val u = SbsOps.unionHeaders(Seq(a, b))
    assert(u.columns.toSeq === Seq("id", "name", "score"))
    assert(u.filter($"id" === 2 && $"name".isNull).count() === 1)
  }

  /** Run git in `dir` with a pinned identity + date (deterministic ids). */
  private def gitAt(dir: java.nio.file.Path, date: String, args: String*): Unit = {
    val pb = new ProcessBuilder((Seq("git", "-C", dir.toString) ++ args): _*)
    val env = pb.environment()
    env.put("GIT_CONFIG_GLOBAL", "/dev/null")
    env.put("GIT_CONFIG_SYSTEM", "/dev/null")
    env.put("GIT_AUTHOR_DATE", date); env.put("GIT_COMMITTER_DATE", date)
    val p = pb.start()
    p.getOutputStream.close()
    p.getInputStream.readAllBytes(); val err = p.getErrorStream.readAllBytes()
    assert(p.waitFor() === 0, new String(err))
  }

  test("gitRevisions: one graph per commit, metadata + payload at each rev") {
    val repo = tmpDir("git")
    gitAt(repo, "1600000000 +0000", "init", "-q", ".")
    gitAt(repo, "1600000000 +0000", "config", "user.name", "t")
    gitAt(repo, "1600000000 +0000", "config", "user.email", "t@example.org")
    val f = repo.resolve("d.ttl")
    // rev 1: turtle with a prefix + an anonymous bnode
    java.nio.file.Files.writeString(f,
      "@prefix ex: <http://ex.org/> .\nex:a ex:p [ ex:q \"v\" ] .\n")
    gitAt(repo, "1600000000 +0000", "add", "d.ttl")
    gitAt(repo, "1600000000 +0000", "commit", "-q", "-m", "one")
    // rev 2: trig payload — named graph collapses into the revision graph
    java.nio.file.Files.writeString(f,
      "<urn:g> { <urn:s> <urn:p> \"w\" . }\n<urn:s> <urn:p> \"d\" .\n")
    gitAt(repo, "1600000100 +0000", "add", "d.ttl")
    gitAt(repo, "1600000100 +0000", "commit", "-q", "-m", "two")

    val out = NgsOps.gitRevisions(spark, f.toString)
    assert(out.columns.toSeq === Seq("graph", "subj", "pred", "obj"))
    val graphs = out.select("graph").distinct().as[String].collect().sorted
    assert(graphs.length === 2)
    // graph name = urn:git:<sha>-<authorInstant>, instant in UTC Z form
    assert(graphs.forall(_.matches(
      "<urn:git:[0-9a-f]{40}-2020-09-13T[0-9:]+Z>")))
    // each revision carries its two metadata quads on the graph IRI
    val meta = out.filter($"pred" === "<urn:git:name>")
      .select("graph", "subj", "obj").collect()
    assert(meta.length === 2)
    assert(meta.forall(r => r.getString(0) === r.getString(1)))
    assert(meta.forall(r =>
      r.getString(0).contains(r.getString(2).replaceAll("\"", ""))))
    val ts = out.filter($"pred" === "<urn:git:timestamp>").as[(String, String, String, String)].collect()
    assert(ts.length === 2)
    assert(ts.forall(_._4.endsWith(
      "\"^^<http://www.w3.org/2001/XMLSchema#dateTime>")))
    // rev-1 payload: prefix expanded, bnode label revision-scoped
    val rev1 = out.filter($"obj" === "\"v\"").collect()
    assert(rev1.length === 1)
    assert(rev1(0).getString(1).startsWith("_:r")) // sha-prefixed bnode
    // rev-2 payload: BOTH quads (named-graph + default) in the rev graph
    val rev2g = out.filter($"subj" === "<urn:s>")
      .select("graph").distinct().as[String].collect()
    assert(rev2g.length === 1)
    assert(out.filter($"subj" === "<urn:s>").count() === 2)
    // 2 revisions × 2 metadata quads + 2 payload triples at each
    assert(out.count() === 8)
  }

  test("gitRevisions: file in a repo SUBDIRECTORY resolves its revisions " +
      "(pathspecs are cwd-relative — review-found silent-empty bug)") {
    val repo = tmpDir("git-sub")
    gitAt(repo, "1600000000 +0000", "init", "-q", ".")
    gitAt(repo, "1600000000 +0000", "config", "user.name", "t")
    gitAt(repo, "1600000000 +0000", "config", "user.email", "t@example.org")
    val sub = java.nio.file.Files.createDirectories(repo.resolve("a/b"))
    val f = sub.resolve("d.ttl")
    java.nio.file.Files.writeString(f, "<urn:a> <urn:p> \"1\" .\n")
    gitAt(repo, "1600000000 +0000", "add", "a/b/d.ttl")
    gitAt(repo, "1600000000 +0000", "commit", "-q", "-m", "one")
    val out = NgsOps.gitRevisions(spark, f.toString)
    assert(out.select("graph").distinct().count() === 1)
    assert(out.count() === 3) // 2 metadata + 1 payload triple
  }

  test("gitRevisions: a deleting commit in the history is skipped, not " +
      "fatal (git log lists it; no blob exists at that revision)") {
    val repo = tmpDir("git-del")
    gitAt(repo, "1600000000 +0000", "init", "-q", ".")
    gitAt(repo, "1600000000 +0000", "config", "user.name", "t")
    gitAt(repo, "1600000000 +0000", "config", "user.email", "t@example.org")
    val f = repo.resolve("d.ttl")
    java.nio.file.Files.writeString(f, "<urn:a> <urn:p> \"1\" .\n")
    gitAt(repo, "1600000000 +0000", "add", "d.ttl")
    gitAt(repo, "1600000000 +0000", "commit", "-q", "-m", "add")
    gitAt(repo, "1600000100 +0000", "rm", "-q", "d.ttl")
    gitAt(repo, "1600000100 +0000", "commit", "-q", "-m", "del")
    java.nio.file.Files.writeString(f, "<urn:a> <urn:p> \"2\" .\n")
    gitAt(repo, "1600000200 +0000", "add", "d.ttl")
    gitAt(repo, "1600000200 +0000", "commit", "-q", "-m", "readd")
    val out = NgsOps.gitRevisions(spark, f.toString)
    // two graphs (add + re-add); the deleting commit contributes nothing
    assert(out.select("graph").distinct().count() === 2)
    assert(out.count() === 6) // 2 × (2 metadata + 1 payload)
  }

  test("gitRevisions: non-repo path and untracked file fail loudly") {
    val lone = tmpDir("nogit")
      .resolve("x.ttl")
    java.nio.file.Files.writeString(lone, "<urn:a> <urn:p> \"1\" .\n")
    val e = intercept[IllegalArgumentException] {
      NgsOps.gitRevisions(spark, lone.toString)
    }
    assert(e.getMessage.contains("no git repo"))
    assert(intercept[IllegalArgumentException] {
      NgsOps.gitRevisions(spark, "/definitely/not/here.ttl")
    }.getMessage.contains("no such file"))
  }
}
