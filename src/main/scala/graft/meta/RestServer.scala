package graft.meta

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** M4: the REST entry point (reference rest_example.sh:6–16 — ksqlDB's
  * `POST /query {"ksql": "SELECT ...;"}`), closing the one SURVEY §2
  * item descoped in round 2. A thin HTTP shell over the engine's SQL
  * text surface (Tables.registerAll + GraftExtensions): the JDK's
  * built-in HttpServer, zero added dependencies.
  *
  *   POST /query   body = raw SQL, or {"sql":"..."} / {"ksql":"..."}
  *                 → 200 {"columns":[...],"rows":[{...},...]}
  *                 → 400 {"error":"..."} on analysis/parse failures
  *   GET  /status  → engine name + registered tables (SHOW TOPICS-ish)
  *
  * This is a PULL-query surface (bounded result to the caller, like the
  * driver's /query endpoint): `limit` caps rows driver-side — the
  * engine's push surface is PushQuery/Structured Streaming, not HTTP.
  * Row JSON comes from Spark's own `toJSON` serialization (timestamps
  * ISO-8601 etc.), not a hand-rolled encoder.
  */
object RestServer {

  /** Start on `port` (0 = ephemeral; read back via
    * `server.getAddress.getPort`). Caller owns the returned server
    * (`stop(0)` to shut down).
    */
  def start(spark: SparkSession): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

    server.createContext("/query", (x: HttpExchange) => respond(x) {
      if (x.getRequestMethod != "POST")
        (405, """{"error":"POST only"}""")
      else {
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        // extractSql inside the 400-handler: a malformed body is a CLIENT
        // error, not a 500
        try {
          val df = spark.sql(extractSql(body)).limit(1000)
          val cols = df.columns.map(jstr).mkString("[", ",", "]")
          val rows = df.toJSON.collect().mkString("[", ",", "]")
          (200, s"""{"columns":$cols,"rows":$rows}""")
        } catch {
          case e: Exception =>
            (400, s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))}}""")
        }
      }
    })

    // Engine-operator verbs over REGISTERED relations — the M4 reach
    // for the eval/retrieval family whose semantics exceed one SQL
    // statement (ksqlDB's own console mixes SQL with verbs the same
    // way). Relations are named views/tables (register via /query
    // CREATE TEMP VIEW or Tables.registerAll); results return in the
    // /query row shape under the same row cap.
    //   POST /ops {"op":"rank_eval","run":"v1","qrels":"v2","k":10}
    //   POST /ops {"op":"roc_auc","table":"v"[,"group":"source"]}
    //   POST /ops {"op":"rrf_fuse","arms":["v1","v2"],"k":10[,"rrfK":60]}
    //   POST /ops {"op":"wer","preds":"v1","refs":"v2"[,"report":true]}
    server.createContext("/ops", (x: HttpExchange) => respond(x) {
      if (x.getRequestMethod != "POST")
        (405, """{"error":"POST only"}""")
      else {
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        try {
          val df = dispatchOp(spark, body).limit(1000)
          val cols = df.columns.map(jstr).mkString("[", ",", "]")
          val rows = df.toJSON.collect().mkString("[", ",", "]")
          (200, s"""{"columns":$cols,"rows":$rows}""")
        } catch {
          case e: Exception =>
            (400, s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))}}""")
        }
      }
    })

    server.createContext("/status", (x: HttpExchange) => respond(x) {
      val tables = spark.catalog.listTables().collect()
        .map(t => jstr(t.name)).sorted.mkString("[", ",", "]")
      (200, s"""{"engine":"graft","spark":${jstr(spark.version)},"tables":$tables}""")
    })

    server.start()
    server
  }

  /** The /ops dispatcher — public for the spec. Field extraction is
    * the [[extractSql]] posture (thin regex shell); relation names are
    * identifier-validated before reaching the catalog so the endpoint
    * can't be steered to arbitrary SQL text.
    */
  def dispatchOp(spark: SparkSession,
                 body: String): org.apache.spark.sql.DataFrame = {
    def strField(name: String): Option[String] =
      (s""""$name"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""").r
        .findFirstMatchIn(body).map(m => unescape(m.group(1)))
    def intField(name: String): Option[Int] =
      (s""""$name"\\s*:\\s*(-?\\d+)""").r
        .findFirstMatchIn(body).map(_.group(1).toInt)
    def arrField(name: String): Option[Seq[String]] =
      (s""""$name"\\s*:\\s*\\[([^\\]]*)\\]""").r
        .findFirstMatchIn(body).map(m =>
          """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(m.group(1))
            .map(g => unescape(g.group(1))).toSeq)
    def rel(name: String, what: String): org.apache.spark.sql.DataFrame = {
      require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"$what must be a registered relation name, got '$name'")
      spark.table(name)
    }
    strField("op").getOrElse(
      throw new IllegalArgumentException("""body needs an "op" field""")) match {
      case "rank_eval" =>
        val run = rel(strField("run")
          .getOrElse(throw new IllegalArgumentException(
            """rank_eval needs "run"""")), "run")
        val qrels = rel(strField("qrels")
          .getOrElse(throw new IllegalArgumentException(
            """rank_eval needs "qrels"""")), "qrels")
        graft.ext.Eval.rankEval(run, qrels, k = intField("k").getOrElse(10))
      case "roc_auc" =>
        val t = rel(strField("table")
          .getOrElse(throw new IllegalArgumentException(
            """roc_auc needs "table"""")), "table")
        strField("group") match {
          case Some(g) => graft.ext.Eval.rocAucBy(t, groupCol = g)
          case None => graft.ext.Eval.rocAuc(t)
        }
      case "rrf_fuse" =>
        val arms = arrField("arms").getOrElse(Seq.empty)
        require(arms.size >= 2,
          """rrf_fuse needs "arms": ["viewA", "viewB", ...]""")
        graft.ext.Retrieval.rrfFuseAll(
          arms.zipWithIndex.map { case (a, _) => rel(a, "arm") },
          k = intField("k").getOrElse(10),
          rrfK = intField("rrfK").getOrElse(60))
      case "wer" =>
        val preds = rel(strField("preds")
          .getOrElse(throw new IllegalArgumentException(
            """wer needs "preds"""")), "preds")
        val refs = rel(strField("refs")
          .getOrElse(throw new IllegalArgumentException(
            """wer needs "refs"""")), "refs")
        val report = body.matches("""(?s).*"report"\s*:\s*true.*""")
        if (report) graft.ext.Eval.werReport(preds, refs)
        else graft.ext.Eval.wer(preds, refs)
      case other => throw new IllegalArgumentException(
        s"unknown op '$other' (supported: rank_eval, roc_auc, rrf_fuse, wer)")
    }
  }

  /** Body → SQL text: raw SQL, or the ksqlDB envelope's "ksql"/"sql"
    * field with minimal JSON-string unescaping (thin shell, documented).
    */
  def extractSql(body: String): String = {
    val trimmed = body.trim
    if (!trimmed.startsWith("{")) return trimmed.stripSuffix(";")
    val m = """"(?:ksql|sql)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    m.findFirstMatchIn(trimmed) match {
      case Some(g) => unescape(g.group(1)).stripSuffix(";")
      case None => throw new IllegalArgumentException(
        "body must be raw SQL or {\"sql\"|\"ksql\": \"...\"}")
    }
  }

  private def unescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b.append('\n'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 'u' if i + 5 < s.length =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case o => b.append(o); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  private def jstr(s: String): String = graft.core.Json.str(s)

  private def respond(x: HttpExchange)(f: => (Int, String)): Unit = {
    val (code, body) = try f catch {
      case e: Exception => (500, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
    }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length)
    x.getResponseBody.write(bytes)
    x.close()
  }
}
