package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{GraftEngine, RestServer}

class RestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET.build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("single-row application parses flat JSON driver-side (scalars + arrays)") {
    val engine = new GraftEngine(spark)
    engine.createSqlExpressionFunction("jsonrow_f",
      "a + b AS s, upper(name) AS u, norm(v, 2) AS n, flag AS fl")
    val out = engine.applyFunctionJson("jsonrow_f",
      """{"a": 2, "b": 3.5, "name": "x", "v": [3, 4], "flag": true}""").head()
    assert(out.getDouble(0) === 5.5)
    assert(out.getString(1) === "X")
    assert(out.getDouble(2) === 5.0)
    assert(out.getBoolean(3) === true)
    // escapes and nulls
    val e = new GraftEngine(spark)
    e.createSqlExpressionFunction("jsonrow_g", "t AS t, z AS z")
    val r = e.applyFunctionJson("jsonrow_g",
      """{"t": "a\"b\nc", "z": null}""").head()
    assert(r.getString(0) === "a\"b\nc")
    assert(r.isNullAt(1))
  }

  test("compiled scoring: each thread's projection owns its nested stateful nodes") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.types._
    val engine = new GraftEngine(spark)
    engine.createFunction("nested_rand_f", df =>
      df.select((org.apache.spark.sql.functions.rand(1) + df("a")).as("r")))
    val schema = StructType(Seq(StructField("a", LongType)))
    val compiled = engine.compiledApply("nested_rand_f", schema)
    assert(compiled.isDefined, "the function should compile to a projection")
    // build one projection's expressions on each of two threads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val perThread = try {
      Seq.fill(2)(pool.submit(new java.util.concurrent.Callable[Seq[Expression]] {
        def call(): Seq[Expression] = compiled.get.boundExprs()
      })).map(_.get())
    } finally pool.shutdown()
    val stateful = perThread.map(_.flatMap(_.collect { case x if x.stateful => x }))
    assert(stateful.forall(_.size == 1), stateful)
    // the stateful node sits below the root (rand(1) + a AS r)
    assert(perThread.forall(_.forall(root => !root.stateful)))
    assert(stateful(0).head ne stateful(1).head)
    val out = engine.applyFunctionJsonRows("nested_rand_f", """{"a": 2}""")._2
    assert(out.head.getDouble(0) >= 2.0 && out.head.getDouble(0) < 3.0)
  }

  test("fetcher: url → (content, error) against a local HTTP fixture") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // fixture server: /blob/<n> answers n deterministic bytes
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/blob", (ex: com.sun.net.httpserver.HttpExchange) => {
      val n = ex.getRequestURI.getPath.split("/").last.toInt
      val bytes = Array.tabulate[Byte](n)(i => (i % 251).toByte)
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    srv.start()
    val port = srv.getAddress.getPort
    try {
      val urls = Seq(
        (1L, s"http://127.0.0.1:$port/blob/10"),
        (2L, s"http://127.0.0.1:$port/blob/70000"), // > one 8k read buffer
        (3L, s"http://127.0.0.1:$port/nope"),       // 404 → error row
        (4L, "http://127.0.0.1:1/unreachable"))     // refused → error row
        .toDF("id", "url")
      val out = urls
        .select(col("id"), graft.operators.Multimodal.fetch(col("url"), 3000).as("f"))
        .select(col("id"), col("f.content").as("c"), col("f.error").as("e"))
        .collect().map(r => r.getLong(0) ->
          (r.getAs[Array[Byte]]("c"), r.getAs[String]("e"))).toMap
      assert(out(1L)._1.toSeq === Array.tabulate[Byte](10)(i => (i % 251).toByte).toSeq)
      assert(out(1L)._2 === null)
      assert(out(2L)._1.length === 70000 && out(2L)._2 === null)
      assert(out(3L)._1 === null && out(3L)._2 != null)
      assert(out(4L)._1 === null && out(4L)._2 != null)
      // exactly one of content/error per row — the reference's contract
      assert(out.values.forall { case (c, e) => (c == null) != (e == null) })
    } finally srv.stop(0)
  }

  test("REST façade: /v1 query, datasets, functions, transform") {
    val engine = new GraftEngine(spark)
    engine.createDatasetFromParquet("region", s"$sf/region.parquet")
    engine.createDatasetFromParquet("nation", s"$sf/nation.parquet")
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      // list datasets
      val (c1, b1) = get(port, "/v1/datasets")
      assert(c1 === 200 && b1 === """["nation","region"]""")
      // query with url-encoded dialect SQL
      val q = java.net.URLEncoder.encode(
        "SELECT r_name, count(*) AS n FROM nation JOIN region " +
          "ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name",
        "UTF-8")
      val (c2, b2) = get(port, s"/v1/query?q=$q")
      assert(c2 === 200)
      assert(b2.contains(""""r_name":"AFRICA"""") && b2.contains(""""n":5"""))
      // sample a dataset
      val (c3, b3) = get(port, "/v1/datasets/region?limit=2")
      assert(c3 === 200 && b3.contains("r_regionkey"))
      // register via PUT
      val put = client.send(HttpRequest
        .newBuilder(URI.create(
          s"http://127.0.0.1:$port/v1/datasets/customer?path=" +
            java.net.URLEncoder.encode(s"$sf/customer.parquet", "UTF-8")))
        .PUT(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(put.statusCode() === 201)
      assert(get(port, "/v1/datasets")._2.contains("customer"))
      // transform procedure via POST
      val post = client.send(HttpRequest
        .newBuilder(URI.create(s"http://127.0.0.1:$port/v1/procedures/transform"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"inputQuery": "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey", "outputDataset": "per_region"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() === 200 && post.body().contains("\"rowCount\": 5"))
      assert(get(port, "/v1/datasets/per_region")._1 === 200)
      // errors: unknown dataset → 404; missing q → 400
      assert(get(port, "/v1/datasets/nope")._1 === 404)
      assert(get(port, "/v1/query")._1 === 400)
    } finally srv.stop()
  }

  test("query output formats: table/soa/sparse/atom per the reference API") {
    val engine = new GraftEngine(spark)
    engine.createDatasetFromParquet("region", s"$sf/region.parquet")
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      val q = java.net.URLEncoder.encode(
        "SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 2 " +
          "ORDER BY r_regionkey", "UTF-8")
      // table: header row then positional arrays — value columns in
      // SORTED name order like the reference's path-sorted row cells
      // (MLDB-409 pins q,x,y,z for a SELECT of x,y,z,q)
      val (tc, tb) = get(port, s"/v1/query?q=$q&format=table")
      assert(tc === 200 &&
        tb === """[["r_name","r_regionkey"],["AFRICA",0],["AMERICA",1]]""")
      // headers=false drops the header row
      assert(get(port, s"/v1/query?q=$q&format=table&headers=false")._2
        === """[["AFRICA",0],["AMERICA",1]]""")
      // soa: one array per column
      val (_, sb) = get(port, s"/v1/query?q=$q&format=soa")
      assert(sb === """{"r_regionkey":[0,1],"r_name":["AFRICA","AMERICA"]}""")
      // sparse: rows as [column, value] pairs, sorted per row (the
      // reference sorts explicitly — `dataset_collection.cc:92`)
      val (_, pb) = get(port, s"/v1/query?q=$q&format=sparse")
      assert(pb === """[[["r_name","AFRICA"],["r_regionkey",0]],""" +
        """[["r_name","AMERICA"],["r_regionkey",1]]]""")
      // atom: exactly one cell, bare value
      val qa = java.net.URLEncoder.encode(
        "SELECT count(*) AS n FROM region", "UTF-8")
      assert(get(port, s"/v1/query?q=$qa&format=atom")._2 === "5")
      // atom over a multi-row result → 400
      assert(get(port, s"/v1/query?q=$q&format=atom")._1 === 400)
      // non-finite numbers: {"num": "Inf"} objects, strings in table
      val qn = java.net.URLEncoder.encode(
        "SELECT exp(1000) AS inf, acos(2) AS nan FROM region LIMIT 1", "UTF-8")
      val (_, nb) = get(port, s"/v1/query?q=$qn&format=soa")
      assert(nb === """{"inf":[{"num":"Inf"}],"nan":[{"num":"NaN"}]}""")
      assert(get(port, s"/v1/query?q=$qn&format=table&headers=false")._2
        === """[["Inf","NaN"]]""") // inf < nan in sorted column order too
      // unknown format → 400
      assert(get(port, s"/v1/query?q=$q&format=nope")._1 === 400)
      // nested rows flatten to DOTTED columns in the table formats
      // (MLDB-668/832, MLDB-1315's `x() AS *` → output.a, output.b):
      // struct columns stay structs internally; the format layer
      // unnests for table/sparse consumers
      // (a no-FROM select carries its 'result' row name, rendered as
      // the reference's leading _rowName — MLDB-102/871)
      val qs = java.net.URLEncoder.encode(
        "SELECT {x: 1, d: {y: 'two'}} AS z", "UTF-8")
      // dotted columns sort path-wise: z.d.y < z.x
      assert(get(port, s"/v1/query?q=$qs&format=table")._2
        === """[["_rowName","z.d.y","z.x"],["result","two",1]]""")
      assert(get(port, s"/v1/query?q=$qs&format=sparse")._2
        === """[[["_rowName","result"],["z.d.y","two"],["z.x",1]]]""")
    } finally srv.stop()
  }

  test("sensors: fifth entity kind — latest() re-reads and stamps ts") {
    val engine = new GraftEngine(spark)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    engine.createSensor("ticker", () => {
      val s2 = spark
      import s2.implicits._
      Seq((reads.incrementAndGet(), "ok")).toDF("reading", "status")
    })
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      assert(get(port, "/v1/sensors")._2 === """["ticker"]""")
      val (c1, b1) = get(port, "/v1/sensors/ticker/latest")
      assert(c1 === 200 && b1.contains(""""reading":1""") &&
        b1.contains(""""status":"ok"""") && b1.contains(""""ts""""))
      // a second read re-evaluates the supplier (reference contract:
      // latest() is a fresh read, core/sensor.h:52-55)
      assert(get(port, "/v1/sensors/ticker/latest")._2.contains(""""reading":2"""))
      assert(get(port, "/v1/sensors/nope/latest")._1 === 404)
    } finally srv.stop()
  }

  test("REST write surface: record rows, apply function, async run") {
    val engine = new GraftEngine(spark)
    engine.createDatasetFromParquet("nation", s"$sf/nation.parquet")
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      // record rows into a NEW dataset, then append widening rows
      val rec1 = client.send(HttpRequest
        .newBuilder(URI.create(s"http://127.0.0.1:$port/v1/datasets/scores/rows"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """[{"id": 1, "score": 0.5}, {"id": 2, "score": 0.9}]"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(rec1.statusCode() === 200 && rec1.body() === """{"recorded": 2}""")
      val rec2 = client.send(HttpRequest
        .newBuilder(URI.create(s"http://127.0.0.1:$port/v1/datasets/scores/rows"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """[{"id": 3, "score": 0.1, "tag": "new"}]"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(rec2.statusCode() === 200)
      // recorded rows are queryable through the dialect, schema widened
      val q = java.net.URLEncoder.encode(
        "SELECT count(*) AS n, horizontal_max({a: max(score)}) AS hm FROM scores", "UTF-8")
      val (qc, qb) = get(port, s"/v1/query?q=$q")
      assert(qc === 200 && qb.contains(""""n":3"""))
      // register a sql.expression function and apply it over HTTP
      engine.createSqlExpressionFunction("gain", "score * 100 AS pct")
      val input = java.net.URLEncoder.encode("""{"score": 0.25}""", "UTF-8")
      val (ac, ab) = get(port, s"/v1/functions/gain/application?input=$input")
      assert(ac === 200 && ab.contains(""""pct":25"""), s"application -> $ac $ab")
      // async transform run: POST → poll until finished
      val post = client.send(HttpRequest
        .newBuilder(URI.create(s"http://127.0.0.1:$port/v1/procedures/transform/runs"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"inputQuery": "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey", "outputDataset": "async_out"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() === 200 && post.body().contains("executing"))
      val runId = "\"runId\": \"([0-9a-f-]+)\"".r
        .findFirstMatchIn(post.body()).get.group(1)
      var state = "executing"
      var tries = 0
      while (state == "executing" && tries < 100) {
        Thread.sleep(200)
        val (_, sb) = get(port, s"/v1/procedures/transform/runs/$runId")
        if (sb.contains("finished")) state = "finished"
        else if (sb.contains("\"error\"")) state = "error"
        tries += 1
      }
      assert(state === "finished")
      assert(get(port, "/v1/datasets/async_out")._1 === 200)
      // unknown run id → 404
      assert(get(port, "/v1/procedures/transform/runs/nope")._1 === 404)
    } finally srv.stop()
  }

  test("columns-form recording: JSON key order insignificant, Instant max ts") {
    val engine = new GraftEngine(spark)
    val srv = new RestServer(engine)
    val port = srv.start()
    def post(path: String, body: String): (Int, String) = {
      val r = client.send(HttpRequest
        .newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try {
      // "columns" BEFORE "rowName" — key order is insignificant JSON
      assert(post("/v1/datasets/kord/rows",
        """{"columns": [["score", 5, 6]], "rowName": "r1"}""")._1 === 200)
      // an extra field between them must not defeat the row match
      assert(post("/v1/datasets/kord/rows",
        """{"rowName": "r2", "note": {"k": [1]}, "columns": [["score", 7, 5]]}""")
        ._1 === 200)
      val q = java.net.URLEncoder.encode(
        "SELECT rowName() AS rn, score FROM kord ORDER BY rn", "UTF-8")
      val (qc, qb) = get(port, s"/v1/query?q=$q")
      assert(qc === 200 && qb.contains("\"score\":5") &&
        qb.contains("\"score\":7"), qb)
      // the row ts is the MAX cell instant — 6.5 s beats 6 s. With
      // the default 1 s record quantum (Date::quantize, MLDB-987)
      // the 6.5 s cell rounds to 7 s before the max is taken.
      assert(post("/v1/datasets/tsub/rows",
        """{"rowName": "r", "columns": [["a", 1, 6.5], ["b", 2, 6]]}""")
        ._1 === 200)
      val tq = java.net.URLEncoder.encode("SELECT ts FROM tsub", "UTF-8")
      val (tc, tb) = get(port, s"/v1/query?q=$tq")
      assert(tc === 200 && tb.contains("1970-01-01T00:00:07Z"), tb)
      // explicit string timestamps with offsets parse and compare as instants
      assert(post("/v1/datasets/tstr/rows",
        """{"rowName": "r", "columns": [["a", 1, "1970-01-01T01:00:00+01:00"],
          |["b", 2, "1970-01-01T00:00:30Z"]]}""".stripMargin)._1 === 200)
      val sq = java.net.URLEncoder.encode("SELECT ts FROM tstr", "UTF-8")
      val (sc2, sb2) = get(port, s"/v1/query?q=$sq")
      assert(sc2 === 200 && sb2.contains("1970-01-01T00:00:30Z"), sb2)
    } finally srv.stop()
  }

  test("a whole-valued decimal cell stays a double on /rows, /columns " +
      "and JS recordRows") {
    import org.apache.spark.sql.types.DoubleType
    val engine = new GraftEngine(spark)
    val srv = new RestServer(engine)
    val port = srv.start()
    def post(path: String, body: String): (Int, String) = {
      val r = client.send(HttpRequest
        .newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    def x(ds: String) = {
      val df = engine.dataset(ds)
      (df.schema("x").dataType, df.select("x").head().get(0))
    }
    try {
      val (c1, b1) = post("/v1/datasets/dec_rows/rows",
        """{"rowName": "r1", "columns": [["x", 5.0, 0]]}""")
      assert(c1 === 200, b1)
      assert(x("dec_rows") === ((DoubleType, 5.0)))
      engine.createDatasetTyped("dec_cols", "sparse.mutable", _ => None)
      val (c2, b2) = post("/v1/datasets/dec_cols/columns",
        """{"columnName": "x", "rows": [["r1", 5e0, 0]]}""")
      assert(c2 < 400, b2)
      assert(x("dec_cols") === ((DoubleType, 5.0)))
      val res = graft.api.JsHost.run(spark, engine.dataset,
        """var ds = mldb.createDataset({type: 'sparse.mutable', id: 'dec_js'});
          |ds.recordRows([["r1", [["x", 5.0, 0]]]]);
          |ds.commit();
          |"done"""".stripMargin, Map.empty, engine)
      assert(graft.api.JsHost.resultJson(res) === "\"done\"")
      assert(x("dec_js") === ((DoubleType, 5.0)))
    } finally srv.stop()
  }

  test("plugins: fifth entity kind — register, serve a custom route, delete") {
    val engine = new GraftEngine(spark)
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      def put(path: String, body: String): (Int, String) = {
        val r = client.send(HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def delete(path: String): (Int, String) = {
        val r = client.send(HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .DELETE().build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
      // a plugin = named script serving custom routes: one scalar
      // route reading a query param, one route returning a DataFrame
      val source =
        """(s: org.apache.spark.sql.SparkSession, a: Map[String, Any]) =>
          |  if (a("route") == "hello") "hello " + a.getOrElse("who", "world")
          |  else s.range(3).toDF("n")""".stripMargin
      val (c1, b1) = put("/v1/plugins/demo", s"""{"source": "${esc(source)}"}""")
      assert(c1 === 200 && b1.contains("demo"), b1)
      assert(get(port, "/v1/plugins")._2.contains("\"demo\""))
      val (cs, bs) = get(port, "/v1/plugins/demo")
      assert(cs === 200 && bs.contains("\"ok\""), bs)
      val (c2, b2) = get(port, "/v1/plugins/demo/routes/hello?who=graft")
      assert(c2 === 200 && b2 === "\"hello graft\"", b2)
      val (c3, b3) = get(port, "/v1/plugins/demo/routes/rows")
      assert(c3 === 200 && b3 === """[{"n":0},{"n":1},{"n":2}]""", b3)
      // a plugin that does not compile is rejected at registration
      assert(put("/v1/plugins/bad", """{"source": "not scala ]["}""")._1 === 400)
      // delete unloads: routes 404 afterwards
      // the reference answers 204 on entity DELETE (MLDB-881)
      assert(delete("/v1/plugins/demo")._1 === 204)
      assert(get(port, "/v1/plugins/demo/routes/hello")._1 === 404)
      assert(delete("/v1/plugins/demo")._1 === 404)
    } finally srv.stop()
  }

  test("plugins: an async creation that fails keeps its reason") {
    val engine = new GraftEngine(spark)
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      def put(path: String, body: String, headers: (String, String)*): (Int, String) = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        headers.foreach { case (k, v) => b.header(k, v) }
        val r = client.send(b.PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      val config = """{"source": "not scala ]["}"""
      // the synchronous PUT's 400 names the reason ...
      val (c1, b1) = put("/v1/plugins/broken", config)
      assert(c1 === 400, b1)
      val reason = b1.stripPrefix("{\"error\": ").split(", \"httpCode\"")(0)
      assert(reason.startsWith("\"plugin did not compile"), b1)
      // ... and the asynchronous one, polled to completion, keeps it
      val (c2, b2) = put("/v1/plugins/broken", config, "async" -> "true")
      assert(c2 === 200 && b2.contains("initializing"), b2)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var status = get(port, "/v1/plugins/broken")
      while (status._2.contains("\"initializing\"") && System.nanoTime() < deadline) {
        Thread.sleep(10)
        status = get(port, "/v1/plugins/broken")
      }
      assert(status._1 === 200 && status._2.contains("\"state\": \"error\""), status)
      assert(status._2.contains(s"\"error\": $reason"), status)
    } finally srv.stop()
  }

  test("javascript plugins: the reference's native plugin language") {
    val engine = new GraftEngine(spark)
    engine.createDatasetFromParquet("nation", s"$sf/nation.parquet")
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      def put(path: String, body: String): (Int, String) = {
        val r = client.send(HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def esc(s: String): String = s.replace("\\", "\\\\")
        .replace("\"", "\\\"").replace("\n", "\\n")
      val source =
        """if (args.route == "hello") {
          |  "hello " + (args.who || "world");
          |} else {
          |  var rows = mldb.query("SELECT n_name FROM nation " +
          |    "ORDER BY n_name LIMIT 2");
          |  var out = [];
          |  for (var i = 0; i < rows.length; i++) out.push(rows[i].n_name);
          |  ({first: out[0], second: out[1], n: rows.length});
          |}""".stripMargin
      val (c1, b1) = put("/v1/plugins/jsdemo",
        s"""{"language": "javascript", "source": "${esc(source)}"}""")
      assert(c1 === 200 && b1.contains("jsdemo"), b1)
      // a string result renders as a JSON string
      val (c2, b2) = get(port, "/v1/plugins/jsdemo/routes/hello?who=graft")
      assert(c2 === 200 && b2 === "\"hello graft\"", b2)
      // an object result renders as a JSON object, via mldb.query
      val (c3, b3) = get(port, "/v1/plugins/jsdemo/routes/top")
      assert(c3 === 200 &&
        b3 === """{"first":"NATION_0","second":"NATION_1","n":2}""", b3)
      // bad JS is rejected at registration, like a bad scala plugin
      assert(put("/v1/plugins/jsbad",
        """{"language": "javascript", "source": "function ("}""")._1 === 400)
      // script.run with language=javascript
      val r = engine.runProcedure("script.run", Map(
        "language" -> "javascript",
        "source" -> ("var xs = [1, 2, 3, 4]; var s = 0; " +
          "for (var i = 0; i < xs.length; i++) s += xs[i]; s * 10;")
      ).get _)
      // result + the reference's ScriptOutput fields (status carries
      // the return value, logs the mldb.log lines — MLDB-642)
      assert(r === """{"result": 100, "status": 100, "logs": []}""", r)
    } finally srv.stop()
  }

  test("typed procedure dispatch: script.run, import.sqlite, tsne.train") {
    val engine = new GraftEngine(spark)
    engine.createDatasetFromParquet("embeddings", s"$sf/embeddings.parquet")
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      def post(body: String): (Int, String) = {
        val r = client.send(HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:$port/v1/procedures"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // script.run returning a scalar
      val (c1, b1) = post(
        """{"type": "script.run", "source": "(s: org.apache.spark.sql.SparkSession, a: Map[String, Any]) => 6 * 7"}""")
      assert(c1 === 201 && b1.contains("42"), b1) // POST creation answers 201
      // import.sqlite from the fixture, registered as a dataset
      val dbPath = {
        val in = getClass.getResourceAsStream("/graft/generic.db")
        val f = java.nio.file.Files.createTempFile("rest", ".db")
        java.nio.file.Files.copy(in, f,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        f.toString
      }
      val (c2, b2) = post(
        s"""{"type": "import.sqlite", "dataFileUrl": "$dbPath", "table": "items", "outputDataset": "sqlite_items"}""")
      assert(c2 === 201 && b2.contains("\"rowCount\": 300"), b2)
      assert(get(port, "/v1/datasets/sqlite_items")._1 === 200)
      // tsne.train over the registered embeddings table
      val (c3, b3) = post(
        """{"type": "tsne.train", "trainingDataset": "embeddings", "idColumn": "vec_id", "vectorColumn": "embedding", "outputDataset": "tsne_out"}""")
      assert(c3 === 201 && b3.contains("tsne_out"), b3)
      assert(get(port, "/v1/datasets/tsne_out")._1 === 200)
      // dataset.stats: per-column profile of a registered dataset
      val (c4, b4) = post(
        """{"type": "dataset.stats", "inputDataset": "embeddings"}""")
      assert(c4 === 201 && b4.contains("\"rowCount\": 500") &&
        b4.contains("\"column\": \"vec_id\"") &&
        b4.contains("\"nulls\": 0"), b4)
      // list.files: directory listing as a dataset
      val dir = java.nio.file.Files.createTempDirectory("lf")
      java.nio.file.Files.writeString(dir.resolve("a.txt"), "hello")
      java.nio.file.Files.writeString(dir.resolve("b.txt"), "world!!")
      val (c5, b5) = post(
        s"""{"type": "list.files", "dataFileUrl": "$dir", "outputDataset": "files"}""")
      assert(c5 === 201 && b5.contains("\"rowCount\": 2"), b5)
      val (_, fb) = get(port, "/v1/datasets/files?limit=100")
      assert(fb.contains("a.txt") && fb.contains("\"size_bytes\":7"))
      // unknown type → 400
      assert(post("""{"type": "nope.nope"}""")._1 === 400)
      // script.run with language=python: out-of-process python3 with
      // the reference's mldb.query surface and last-line-JSON return
      val pySrc = "rows = mldb.query(\\\"SELECT count(*) AS n FROM embeddings\\\")\\n" +
        "print(\\\"working\\\")\\n" +
        "import json\\n" +
        "print(json.dumps({\\\"n\\\": rows[0][\\\"n\\\"]}))"
      val (c6, b6) = post(
        s"""{"type": "script.run", "language": "python", "source": "$pySrc"}""")
      assert(c6 === 201, b6)
      assert(b6.contains("\"return\": {\"n\": 500}"), b6)
      assert(b6.contains("\"stdout\": \"working\""), b6)
      assert(b6.contains("\"returnCode\": 0"), b6)
    } finally srv.stop()
  }

  test("LLM-pipeline operators as typed procedures over REST") {
    val engine = new GraftEngine(spark)
    engine.createDatasetFromParquet("documents", s"$sf/documents.parquet")
    engine.createDatasetFromParquet("embeddings", s"$sf/embeddings.parquet")
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      def post(body: String): (Int, String) = {
        val r = client.send(HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:$port/v1/procedures"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      val (c1, b1) = post(
        """{"type": "dedup.exact", "inputDataset": "documents", "outputDataset": "deduped"}""")
      assert(c1 === 201 && b1.contains("deduped"), b1) // 201 on creation
      val (c2, b2) = post(
        """{"type": "quality.gopher", "inputDataset": "documents", "outputDataset": "quality"}""")
      assert(c2 === 201, b2)
      val (_, qb) = get(port, "/v1/datasets/quality?limit=100")
      assert(qb.contains("mean_word_len") && qb.contains("\"pass\""))
      val (c3, b3) = post(
        """{"type": "pack.sequence", "inputDataset": "documents", "budget": "512", "outputDataset": "packed"}""")
      assert(c3 === 201, b3)
      val (_, pb) = get(port, "/v1/datasets/packed?limit=100")
      assert(pb.contains("first_pack") && pb.contains("n_packs"))
      val (c3g, b3g) = post(
        """{"type": "pack.sequence", "inputDataset": "documents", "groupColumn": "source", "budget": "512", "outputDataset": "packed_by_src"}""")
      assert(c3g === 201 && b3g.contains("packed_by_src"), b3g)
      val (c4, b4) = post(
        """{"type": "ann.quantized", "inputDataset": "embeddings", "queriesDataset": "embeddings", "k": "3", "outputDataset": "nbrs"}""")
      assert(c4 === 201, b4)
      val (_, nb) = get(port, "/v1/datasets/nbrs?limit=100")
      assert(nb.contains("neighbor_id") && nb.contains("cosine"))
      val (c5, b5) = post(
        """{"type": "dedup.winnow", "inputDataset": "documents", "k": "3", "w": "4", "outputDataset": "winnowed"}""")
      assert(c5 === 201 && b5.contains("winnowed"), b5)
      // bpe.train registers an appliable tokenizer function
      val (c6, b6) = post(
        """{"type": "bpe.train", "trainingDataset": "documents", "numMerges": "40", "functionName": "tok"}""")
      assert(c6 === 201 && b6.contains("\"merges\": 40"), b6)
      val (c7, b7) = post(
        """{"type": "dedup.semantic", "inputDataset": "embeddings", "k": "8", "minCosine": "0.99", "outputDataset": "semdeduped"}""")
      assert(c7 === 201 && b7.contains("semdeduped"), b7)
      val (c8, b8) = post(
        """{"type": "sample.temperature", "inputDataset": "documents", "budgetFraction": "0.25", "outputDataset": "balanced"}""")
      assert(c8 === 201 && b8.contains("balanced"), b8)
      val (c9, b9) = post(
        """{"type": "sample.dsir", "inputDataset": "documents", "targetDataset": "documents", "k": "50", "outputDataset": "dsir_sel"}""")
      assert(c9 === 201 && b9.contains("\"rowCount\": 50"), b9)
      val (c10, b10) = post(
        """{"type": "quality.repetition", "inputDataset": "documents", "outputDataset": "rep"}""")
      assert(c10 === 201 && b10.contains("rep"), b10)
      val (c11, b11) = post(
        """{"type": "quality.c4", "inputDataset": "documents", "outputDataset": "c4"}""")
      assert(c11 === 201 && b11.contains("c4"), b11)
      // whole curation chain in one call: gates + dedup + rebalance
      val (c12, b12) = post(
        """{"type": "pipeline.curate", "inputDataset": "documents", "keepColumns": "source", "quality": "true", "stopwords": "the,a,table,value", "minStop": "3", "repetition": "true", "dedupExact": "true", "budgetFraction": "0.5", "outputDataset": "curated"}""")
      assert(c12 === 201 && b12.contains("curated"), b12)
      val m12 = "\"rowCount\": (\\d+)".r.findFirstMatchIn(b12)
      assert(m12.exists(m => m.group(1).toInt > 0 && m.group(1).toInt < 500), b12)
      val input = java.net.URLEncoder.encode("""{"text": "the quick fox"}""", "UTF-8")
      val (ac, ab) = get(port, s"/v1/functions/tok/application?input=$input")
      assert(ac === 200 && ab.contains("bpe_tokens") && ab.contains("</w>"), ab)
      // shard export: token-budget shards + manifest on disk
      val shardDir = java.nio.file.Files.createTempDirectory("graft_rest_shards").toString
      val (c13, b13) = post(
        s"""{"type": "export.shards", "inputDataset": "documents", "tokensPerShard": "5000", "outputUrl": "$shardDir"}""")
      assert(c13 === 201 && b13.contains("\"shards\""), b13)
      val nShards = "\"shards\": (\\d+)".r.findFirstMatchIn(b13).get.group(1).toInt
      assert(nShards > 1, b13)
      assert(new java.io.File(shardDir + "/data").exists())
      assert(new java.io.File(shardDir + "/manifest").exists())
    } finally srv.stop()
  }

  test("typed function creation over REST: sql.expression and $param " +
      "sql.query (MLDB-784/800)") {
    val engine = new GraftEngine(spark)
    engine.recordRows("ds800",
      (0 until 5).map(i => s"""{"rowName":"row_$i","x":"row_0","y":${2 * i}}""")
        .mkString("[", ",", "]"))
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      def put(path: String, body: String): (Int, String) = {
        val r = client.send(HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // MLDB-800's patate: $x-parameterized sql.query
      assert(put("/v1/functions/patate800",
        """{"type": "sql.query", "params": {
          |"query": "select * from ds800 where rowName() = $x"}}"""
          .stripMargin)._1 === 200)
      // and poil: sql.expression calling it (the MLDB-800 chain)
      assert(put("/v1/functions/poil800",
        """{"type": "sql.expression", "params": {
          |"expression": "patate800({x})"}}""".stripMargin)._1 === 200)
      val out = engine.query(
        "SELECT poil800({x}) AS v FROM ds800 WHERE rowName() = 'row_3'")
        .select("v").head().getStruct(0)
      // x='row_0' on every row → the lookup lands row_0's cells
      assert(out.getAs[String]("x") === "row_0")
      assert(out.getAs[Long]("y") === 0L)
      // unknown type 400s
      assert(put("/v1/functions/zz", """{"type": "nope"}""")._1 === 400)
    } finally srv.stop()
  }

  test("typed function creation over REST: pooling (MLDB-1119) with and " +
      "without aggregators") {
    val engine = new GraftEngine(spark)
    engine.recordRows("restWordEmb",
      """[{"rowName":"allo","x":0.2,"y":0},
         |{"rowName":"mon","x":0.8,"y":0.9}]""".stripMargin)
    engine.recordRows("restBag",
      """[{"rowName":"doc1","allo":1,"mon":1}]""")
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      def put(path: String, body: String): (Int, String) = {
        val r = client.send(HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // JSON array aggregators must survive the round-trip into the
      // dialect (['avg','max'], single-quoted string literals — the
      // advisor's r8 finding: the raw comma list lexed as identifiers)
      assert(put("/v1/functions/pool2",
        """{"type": "pooling", "params": {
          |"embeddingDataset": "restWordEmb",
          |"aggregators": ["avg", "max"]}}""".stripMargin)._1 === 200)
      val v = engine.query(
        "SELECT pool2({words: {*}}) AS p FROM restBag").select("p").head()
        .getStruct(0).getSeq[Double](0)
      assert(v === Seq(0.5, 0.45, 0.8, 0.9))
      // default aggregators = ['avg'] (not a double-quoted identifier)
      assert(put("/v1/functions/pool1",
        """{"type": "pooling", "params": {
          |"embeddingDataset": "restWordEmb"}}""".stripMargin)._1 === 200)
      val v1 = engine.query(
        "SELECT pool1({words: {*}}) AS p FROM restBag").select("p").head()
        .getStruct(0).getSeq[Double](0)
      assert(v1 === Seq(0.5, 0.45))
    } finally srv.stop()
  }

  test("typed stemmer creation over REST honors the language param") {
    val engine = new GraftEngine(spark)
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      def put(path: String, body: String): (Int, String) = {
        val r = client.send(HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      assert(put("/v1/functions/stemfr",
        """{"type": "stemmerdoc", "params": {"language": "french"}}""")._1
        === 200)
      val out = engine.query(
        "SELECT stemfr({document: 'continuation nationale'})[document] AS d")
        .head().getString(0)
      assert(out === "continu national")
      // unknown stemmer language → 400 at creation (nlp.cc:277 shape)
      val (code, body) = put("/v1/functions/stemko",
        """{"type": "stemmer", "params": {"language": "klingon"}}""")
      assert(code === 400 && body.contains("not available for stemming"))
      // filter_stopwords is english-only in the reference (nlp.cc:73)
      val (c2, b2) = put("/v1/functions/stopfr",
        """{"type": "filter_stopwords", "params": {"language": "french"}}""")
      assert(c2 === 400 && b2.contains("Unsupported language: french"))
    } finally srv.stop()
  }

  test("typed dataset creation: merged/sampled/transposed/sub via PUT config (MLDB-1242/2077)") {
    val engine = new GraftEngine(spark)
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      def put(path: String, body: String): (Int, String) = {
        val r = client.send(HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def post(path: String, body: String): (Int, String) = {
        val r = client.send(HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // mutable base dataset via typed create + record
      assert(put("/v1/datasets/toy",
        """{"type": "sparse.mutable"}""")._1 === 201)
      val rows = (0 until 50).map(i =>
        s"""{"rowName":"u$i","feat1":${i % 7}}""").mkString(",")
      assert(post("/v1/datasets/toy/rows", s"[$rows]")._1 === 200)
      // sampled: exact row count without replacement (MLDB-1242)
      assert(put("/v1/datasets/pwet",
        """{"type": "sampled", "params": {"dataset": {"id": "toy"}, "rows": 10}}""")._1
        === 201)
      assert(engine.dataset("pwet").count() === 10)
      // too many rows without replacement → 400; ok with replacement
      assert(put("/v1/datasets/patate",
        """{"type": "sampled", "params": {"dataset": "toy", "rows": 25000,
          |"withReplacement": false}}""".stripMargin)._1 === 400)
      assert(put("/v1/datasets/patate",
        """{"type": "sampled", "params": {"dataset": "toy", "rows": 25000,
          |"withReplacement": true}}""".stripMargin)._1 === 201)
      // recording into a derived dataset → 400 (the reference's rule)
      assert(post("/v1/datasets/patate/rows",
        """[{"rowName":"patato","a":"b"}]""")._1 === 400)
      // merged of two datasets — later wins per cell (MLDB-2077/2103)
      engine.recordRows("m1", """[{"rowName":"1","colA":"A"}]""")
      engine.recordRows("m2", """[{"rowName":"1","colB":"B"}]""")
      assert(put("/v1/datasets/mat",
        """{"type": "merged", "params": {"datasets": [{"id": "m1"}, {"id": "m2"}]}}""")._1
        === 201)
      val m = engine.query("SELECT colA, colB FROM mat")
        .select("colA", "colB").head()
      assert(m.getString(0) === "A" && m.getString(1) === "B")
      // single-dataset merge is legal (MLDB-2077)
      assert(put("/v1/datasets/mat1",
        """{"type": "merged", "params": {"datasets": ["m1"]}}""")._1 === 201)
      assert(engine.dataset("mat1").count() === 1)
      // sub dataset from a query
      assert(put("/v1/datasets/subds",
        """{"type": "sub", "params": {"query": "SELECT feat1 FROM toy WHERE feat1 > 3"}}""")._1
        === 201)
      assert(engine.dataset("subds").count() ===
        engine.query("SELECT feat1 FROM toy WHERE feat1 > 3").count())
      // transposed round-trip
      assert(put("/v1/datasets/tr",
        """{"type": "transposed", "params": {"dataset": "m1"}}""")._1 === 201)
      assert(engine.dataset("tr").columns.length >= 1)
      // re-creating a formerly derived name as a MUTABLE type lifts
      // the immutability mark: recordRows must succeed again
      assert(put("/v1/datasets/patate",
        """{"type": "tabular", "params": {}}""")._1 === 201)
      engine.createDataset("patate", spark.emptyDataFrame)
      assert(post("/v1/datasets/patate/rows",
        """[{"rowName":"patato","a":"b"}]""")._1 === 200)
      assert(engine.query("SELECT a FROM patate").select("a").head().getString(0) === "b")
    } finally srv.stop()
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val r = client.send(HttpRequest
      .newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("/v1/types/procedures lists exactly the procedure types that run") {
    val engine = new GraftEngine(spark)
    val srv = new RestServer(engine)
    val port = srv.start()
    try {
      val (c, b) = get(port, "/v1/types/procedures")
      assert(c === 200, b)
      val listed = "\"([^\"]+)\"".r.findAllMatchIn(b).map(_.group(1)).toSeq
      assert(listed.size > 50, b)
      // every listed type dispatches: with no params it fails on a
      // missing param, never as an unknown type
      for (t <- listed) {
        val err = scala.util.Try(engine.runProcedure(t, _ => None))
          .failed.toOption.map(e => String.valueOf(e.getMessage))
        assert(!err.exists(_.contains("unknown procedure type")), s"$t: $err")
      }
      for (t <- Seq("dedup.minhash", "pipeline.curate", "sample.dsir"))
        assert(listed.contains(t), b)
      assert(get(port, "/v1/types/procedures/dedup.minhash/info")._1 === 200)
      assert(get(port,
        "/v1/types/procedures/randomforest.binary.train/info")._1 === 404)
      assert(!listed.contains("randomforest.binary.train"), b)
    } finally srv.stop()
  }

  test("a missing input file is one 400 for every file import type") {
    val engine = new GraftEngine(spark)
    val srv = new RestServer(engine)
    val port = srv.start()
    val missing = java.nio.file.Files.createTempDirectory("missing")
      .resolve("absent")
    try {
      for ((tpe, ext) <- Seq("import.text" -> "csv", "import.json" -> "json",
          "import.sentiwordnet" -> "txt", "import.sqlite" -> "db",
          "import.xlsx" -> "xlsx", "import.word2vec" -> "bin")) {
        val path = s"$missing.$ext"
        val msg = s"Opening file $path: No such file or directory"
        val params = Map("dataFileUrl" -> s"file://$path",
          "outputDataset" -> "missing_out")
        val ex = intercept[IllegalArgumentException](
          engine.runProcedure(tpe, params.get _))
        assert(ex.getMessage === msg, tpe)
        val (c, b) = post(port, "/v1/procedures",
          s"""{"type": "$tpe", "params": {"dataFileUrl": "file://$path", """ +
            """"outputDataset": "missing_out"}}""")
        assert(c === 400 && b.contains(msg), s"$tpe: $c $b")
      }
    } finally srv.stop()
  }
}
