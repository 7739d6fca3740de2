package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.RdfTerms

/** SPARQL-results JSON (SRJ) source — the `sbs` front door
  * (reference: SbsCmdImpls.java:65-120 sniffs the header then streams
  * bindings; W3C "SPARQL 1.1 Query Results JSON Format").
  *
  * An SRJ document is `{"head":{"vars":[…]},"results":{"bindings":[{var:
  * {type,value,datatype?,"xml:lang"?}}…]}}`. Output columns are the head
  * vars in NAME order (the driver compare sorts by name anyway); a var
  * missing from a binding is unbound → NULL (the reference's Binding
  * semantics).
  *
  * Scale: one SRJ document = one JSON value, so the parallel unit is the
  * FILE (a directory of SRJ files scans as one task each — multiLine
  * JSON). For cluster-scale binding streams use the line-oriented form
  * (one binding object per line) which splits freely; the decoders below
  * work on either since they operate on the exploded binding struct.
  */
object ResultSetIO {

  /** Decode one SRJ term struct to the engine's canonical N-Triples
    * lexical string: uri → `<iri>`, bnode → `_:label`, literal →
    * `"escaped"` with optional `@lang` / `^^<datatype>`.
    */
  def decodeTerm(b: Column, subFields: Set[String]): Column = {
    val v = b.getField("value")
    val lit0 = concat(lit("\""), RdfTerms.ntEscape(v), lit("\""))
    // the inferred schema only has fields that occur somewhere in the data
    def sub(f: String): Column =
      if (subFields(f)) b.getField(f) else lit(null: String)
    when(b.isNull, lit(null: String))
      .when(b.getField("type") === "uri", concat(lit("<"), v, lit(">")))
      .when(b.getField("type") === "bnode", concat(lit("_:"), v))
      .when(sub("xml:lang").isNotNull, concat(lit0, lit("@"), sub("xml:lang")))
      .when(sub("datatype").isNotNull, concat(lit0, lit("^^<"), sub("datatype"), lit(">")))
      .otherwise(lit0)
  }

  /** (head vars in order, exploded binding structs, vars present in the
    * inferred schema). A var that never appears in ANY binding is absent
    * from the schema — it surfaces as an all-NULL column (unbound).
    */
  private def bindings(spark: SparkSession, path: String)
      : (Seq[String], DataFrame, Set[String]) = {
    val raw = spark.read.option("multiLine", "true").json(path)
    val vars = raw.select(explode(col("head.vars")).as("v"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    val b = raw.select(explode(col("results.bindings")).as("__b"))
    val present = b.schema("__b").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    (vars, b, present)
  }

  /** Read SRJ into term-string columns (one per head var). */
  def readSrj(spark: SparkSession, path: String): DataFrame = {
    val (vars, b, present) = bindings(spark, path)
    val struct = b.schema("__b").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    b.select(vars.map { v =>
      if (present(v)) {
        val subFields = struct(v).dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
        decodeTerm(col("__b").getField(v), subFields).as(v)
      } else lit(null: String).as(v)
    }: _*)
  }

  /** Read SRJ into RAW lexical value columns (strings; IRIs/bnodes keep
    * just their value, literals their lexical form) — the convenient shape
    * for relational post-processing; cast as needed.
    */
  def readSrjValues(spark: SparkSession, path: String): DataFrame = {
    val (vars, b, present) = bindings(spark, path)
    b.select(vars.map { v =>
      if (present(v)) col("__b").getField(v).getField("value").as(v)
      else lit(null: String).as(v)
    }: _*)
  }

  /** Line-oriented SRJ bindings: ONE JSON binding object per line
    * (`{"var":{"type":…,"value":…},…}`), the cluster-scale form of the
    * binding stream — unlike the single-JSON-value SRJ document, this
    * splits freely at any file size (Spark's line-oriented JSON scan
    * assigns splits independently), so a multi-GB binding dump fans out
    * across tasks instead of parsing as one. Decoding reuses
    * [[decodeTerm]], so the output is bit-identical to [[readSrj]] on the
    * same logical content. A var absent from every line is absent from
    * the schema (there is no `head` section to declare it).
    */
  def readSrjLines(spark: SparkSession, path: String): DataFrame = {
    // FAILFAST: a malformed line in a binding dump must fail loudly (the
    // PERMISSIVE default would silently turn it into an all-NULL row),
    // matching readSrj's strictness
    val raw = spark.read.option("mode", "FAILFAST").json(path)
    val vars = raw.schema.fieldNames.sorted.toSeq
    require(vars.nonEmpty, s"readSrjLines: no binding vars inferred at $path")
    raw.select(vars.map { v =>
      val sub = raw.schema(v).dataType match {
        case st: org.apache.spark.sql.types.StructType => st.fieldNames.toSet
        case other => throw new IllegalArgumentException(
          s"readSrjLines: var '$v' is not a binding object (inferred $other) " +
            s"— every line must be {\"var\":{\"type\":…,\"value\":…},…}")
      }
      decodeTerm(col(v), sub).as(v)
    }: _*)
  }

  /** The rows every result-set fixture encodes: `events` with
    * event_id < 2000 as (id, event type, value in cents, user id, props.k),
    * in id order.
    */
  private def fixtureRows(spark: SparkSession, sfDir: String)
      : Array[org.apache.spark.sql.Row] =
    spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("event_id") < 2000)
      .select(col("event_id").cast("long"), col("event_type"),
        round(col("value") * 100).cast("long"),
        col("user_id").cast("long"),
        get_json_object(col("props"), "$.k").cast("long"))
      .orderBy("event_id").collect()

  /** Deterministic line-oriented SRJ fixture (same logical content as the
    * document fixture, so both scans share one oracle).
    */
  def writeSrjLinesFixture(spark: SparkSession, sfDir: String, path: String): Unit = {
    val rows = fixtureRows(spark, sfDir)
    val XsdInt = "http://www.w3.org/2001/XMLSchema#integer"
    def intLit(v: Long) =
      s"""{"type":"literal","value":"$v","datatype":"$XsdInt"}"""
    val sb = new StringBuilder
    rows.foreach { r =>
      val id = r.getLong(0)
      val fields = Seq(
        s""""id":${intLit(id)}""",
        s""""etype":{"type":"literal","value":"${r.getString(1)}"}""",
        s""""cents":${intLit(r.getLong(2))}""",
        s""""actor":{"type":"uri","value":"urn:user:${r.getLong(3)}"}""") ++
        (if (id % 5 == 0) Nil else Seq(s""""k":${intLit(r.getLong(4))}"""))
      sb.append(fields.mkString("{", ",", "}")).append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  /** SPARQL-results TSV scan (the reference's third result-set format,
    * SbsCmdImpls.java:101-120): header row = `?var` names, cells already
    * N-Triples lexical terms, empty cell = unbound → NULL. Line-oriented,
    * so this splits freely at any file size (unlike the one-JSON-value
    * SRJ document).
    */
  def readTsv(spark: SparkSession, path: String): DataFrame = {
    // quote handling OFF: cells are raw N-Triples terms; a plain-literal
    // cell like "error" must keep its quotes
    val df = spark.read.option("header", "true").option("sep", "\t")
      .option("quote", "").csv(path)
    df.select(df.columns.map(c =>
      col("`" + c + "`").as(c.stripPrefix("?"))): _*)
  }

  /** Deterministic SPARQL-results TSV fixture (same logical content as
    * the SRJ fixture, so the two scans share one oracle).
    */
  def writeTsvFixture(spark: SparkSession, sfDir: String, path: String): Unit = {
    val rows = fixtureRows(spark, sfDir)
    val XsdInt = "<http://www.w3.org/2001/XMLSchema#integer>"
    val sb = new StringBuilder("?id\t?etype\t?cents\t?actor\t?k\n")
    rows.foreach { r =>
      val id = r.getLong(0)
      sb.append(s""""$id"^^$XsdInt""").append('\t')
        .append('"').append(r.getString(1)).append('"').append('\t')
        .append(s""""${r.getLong(2)}"^^$XsdInt""").append('\t')
        .append(s"<urn:user:${r.getLong(3)}>").append('\t')
        .append(if (id % 5 == 0) "" else s""""${r.getLong(4)}"^^$XsdInt""")
        .append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  /** One SRX document → (result index, var, term) rows, terms in
    * canonical N-Triples lexical form. StAX pull parsing (JDK built-in,
    * no DTD/external entities), namespace-agnostic local names.
    */
  private[graft] def parseSrx(doc: String): Iterator[(Long, String, String)] = {
    import javax.xml.stream.XMLStreamConstants._
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty("javax.xml.stream.isSupportingExternalEntities", false)
    val r = f.createXMLStreamReader(new java.io.StringReader(doc))
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    var idx = -1L
    var curVar: String = null
    var kind: String = null
    var dt: String = null
    var lang: String = null
    val text = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case START_ELEMENT => r.getLocalName match {
          case "result" => idx += 1
          case "binding" => curVar = r.getAttributeValue(null, "name")
          case "uri" | "bnode" => kind = r.getLocalName; text.clear()
          case "literal" =>
            kind = "literal"; text.clear()
            dt = r.getAttributeValue(null, "datatype")
            lang = r.getAttributeValue(
              "http://www.w3.org/XML/1998/namespace", "lang")
          case _ =>
        }
        case CHARACTERS | CDATA if kind != null => text.append(r.getText)
        case END_ELEMENT => r.getLocalName match {
          case "uri" =>
            out += ((idx, curVar, "<" + text.toString + ">")); kind = null
          case "bnode" =>
            out += ((idx, curVar, "_:" + text.toString)); kind = null
          case "literal" =>
            val body = "\"" + TrigParser.ntEscape(text.toString) + "\""
            val term =
              if (lang != null) body + "@" + lang
              else if (dt != null) body + "^^<" + dt + ">"
              else body
            out += ((idx, curVar, term))
            kind = null; dt = null; lang = null
          case _ =>
        }
        case _ =>
      }
    }
    r.close()
    out.iterator
  }

  /** SPARQL-results XML scan (the reference's result-set formats include
    * SRX — SbsCmdImpls.java:101-120). Parallel unit = FILE (one result
    * document per task); bindings pivot to one column per var. Vars bound
    * nowhere in the data are omitted (SRX head parsing is per-document;
    * pass explicit downstream selects for ghost vars).
    */
  def readSrx(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // collision-free result key: (partition id, doc index in partition,
    // result index) — deterministic because the wholetext file list is
    // sorted (one file per partition). Field widths are generous (2^20
    // docs/partition, 2^24 results/doc) and overflow FAILS instead of
    // silently merging rows.
    val long = spark.read.option("wholetext", "true").textFile(path)
      .mapPartitions { docs =>
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong << 44
        var d = 0L
        docs.flatMap { doc =>
          d += 1
          require(d < (1L << 20), "readSrx: >2^20 documents in one partition")
          val base = pid | (d << 24)
          parseSrx(doc).map { case (i, v, t) =>
            require(i < (1L << 24), "readSrx: >2^24 results in one document")
            (base | i, v, t)
          }
        }
      }.toDF("__row", "var", "term")
    val vars = long.select("var").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    long.groupBy("__row").pivot("var", vars).agg(first("term"))
      .select(vars.map(col): _*)
  }

  /** Deterministic SRX fixture (same logical content as the SRJ/TSV
    * fixtures, so all three scans share one oracle).
    */
  def writeSrxFixture(spark: SparkSession, sfDir: String, path: String): Unit = {
    val rows = fixtureRows(spark, sfDir)
    val XsdInt = "http://www.w3.org/2001/XMLSchema#integer"
    def b(v: String, inner: String) =
      s"""<binding name="$v">$inner</binding>"""
    def intLit(v: Long) = s"""<literal datatype="$XsdInt">$v</literal>"""
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\"?>\n")
    sb.append("<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">\n")
    sb.append("<head>")
    Seq("id", "etype", "cents", "actor", "k").foreach(v =>
      sb.append(s"""<variable name="$v"/>"""))
    sb.append("</head>\n<results>\n")
    rows.foreach { r =>
      val id = r.getLong(0)
      sb.append("<result>")
        .append(b("id", intLit(id)))
        .append(b("etype", s"<literal>${r.getString(1)}</literal>"))
        .append(b("cents", intLit(r.getLong(2))))
        .append(b("actor", s"<uri>urn:user:${r.getLong(3)}</uri>"))
      if (id % 5 != 0) sb.append(b("k", intLit(r.getLong(4))))
      sb.append("</result>\n")
    }
    sb.append("</results>\n</sparql>\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  /** Deterministic SRJ fixture from `events` (event_id < 2000): typed
    * integer literals, plain literals, IRIs, and an unbound var every 5th
    * row. The oracle re-derives the decoded output from the same table.
    */
  def writeSrjFixture(spark: SparkSession, sfDir: String, path: String): Unit = {
    val rows = fixtureRows(spark, sfDir)
    val XsdInt = "http://www.w3.org/2001/XMLSchema#integer"
    def intLit(v: Long) =
      s"""{"type":"literal","value":"$v","datatype":"$XsdInt"}"""
    val sb = new StringBuilder
    sb.append("""{"head":{"vars":["id","etype","cents","actor","k"]},""")
    sb.append("\"results\":{\"bindings\":[\n")
    rows.zipWithIndex.foreach { case (r, idx) =>
      val id = r.getLong(0)
      val fields = Seq(
        s""""id":${intLit(id)}""",
        s""""etype":{"type":"literal","value":"${r.getString(1)}"}""",
        s""""cents":${intLit(r.getLong(2))}""",
        s""""actor":{"type":"uri","value":"urn:user:${r.getLong(3)}"}""") ++
        (if (id % 5 == 0) Nil else Seq(s""""k":${intLit(r.getLong(4))}"""))
      sb.append(fields.mkString("{", ",", "}"))
      sb.append(if (idx == rows.length - 1) "\n" else ",\n")
    }
    sb.append("]}}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  /** Fixture path helper shared by the driver queries (one per sf dir). */
  def fixturePath(sfDir: String): String = {
    val path = sys.props("java.io.tmpdir") +
      s"/graft_srj_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}.srj"
    path
  }
}
