package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.util.control.NonFatal
import graft.js.JsInterp.{JsArrV, JsNull, JsObjV, JsVal}

/** Minimal REST façade over GraftEngine, mirroring the reference's
  * `/v1` surface (`/root/reference/server/mldb_server.cc:209-228`):
  *
  *   GET  /v1/query?q=<dialect sql>&format=aos|table|soa|sparse|full|
  *        atom&headers=<bool>&limit=<n>
  *   GET  /v1/datasets                         — list
  *   GET  /v1/datasets/<name>?limit=<n>        — sample rows
  *   PUT  /v1/datasets/<name>?path=<parquet>   — register
  *   GET  /v1/functions                        — list
  *   POST /v1/procedures/transform  body: {"inputQuery": …,
  *        "outputDataset": …}                  — INSERT-INTO-SELECT
  *   POST /v1/procedures  body: {"type": …, "params": {…}} — typed
  *        dispatch to every batch procedure (transform, import.text/
  *        json/xlsx/git/sqlite/sentiwordnet, export.csv, tsne.train,
  *        script.run); the reference's {type, params} config model
  *
  * Every JSON body is parsed once; configs are read through `ProcJson`
  * (`params.k`, else the top-level `k`).
  *
  * Built on the JDK's HttpServer (zero added dependencies). Row
  * serialization uses Spark's own `toJSON` codec. This is a
  * single-node control plane — queries execute on the cluster;
  * only result rows flow through this process, capped by `limit`
  * (default 1000) exactly like the reference's REST row limits.
  */
final class RestServer(engine: GraftEngine, port: Int = 0) {

  RestServer.ensureNoDelay()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // named procedure configs (PUT /v1/procedures/<name> → POST …/runs)
  private val procedures =
    scala.collection.concurrent.TrieMap.empty[String, (String, JsVal)]
  // completed runs per named procedure: (runId, started) in run order
  private val procRuns = scala.collection.concurrent.TrieMap
    .empty[String, Vector[(String, java.time.Instant)]]
  // async plugin construction (MLDB-305/881): state per plugin, the
  // reason a failed construction gave, and a latch a DELETE can wait on
  private val pluginStates =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val pluginErrors =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val pluginBuilds = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.CountDownLatch]
  // datasets whose typed creation FAILED: (type, error) per entity —
  // the reference keeps the collection entry in error state (MLDB-572)
  private val datasetErrors = scala.collection.concurrent.TrieMap
    .empty[String, (String, String)]
  // sync run results by run id, served by /runs/<id>/details
  // (MLDB-642 reads the logs back)
  private val syncRunResults = scala.collection.concurrent.TrieMap
    .empty[String, String]
  // named credential rules (MLDB-1468) — raw config JSON per name
  private val credentials = scala.collection.concurrent.TrieMap
    .empty[String, String]

  def start(): Int = {
    // the query route's work, shared by /v1/query (query string OR
    // JSON body — MLDB-1717 "q may be defined either as a query string
    // parameter or the JSON body") and /v1/redirect/get
    def runQueryRoute(params: Map[String, String], body: JsVal): String = {
      val bodyField = ProcJson.params(body)
      // MLDB-1893: parameters come from the query string OR the JSON
      // body, never both in one request
      val bodyEmpty = body match {
        case o: JsObjV => o.fields.isEmpty
        case v => v == JsNull
      }
      if (params.nonEmpty && !bodyEmpty)
        throw new IllegalArgumentException(
          "You cannot mix query string and body parameters")
      val q = params.get("q").filter(_.nonEmpty)
        .orElse(bodyField("q")).getOrElse(
          throw new IllegalArgumentException("missing q parameter"))
      val limit = params.get("limit").orElse(bodyField("limit"))
        .map(_.toInt).getOrElse(1000)
      val format = params.get("format").orElse(bodyField("format"))
        .getOrElse("aos")
      val headers = params.get("headers").orElse(bodyField("headers"))
        .forall(_.toBoolean)
      val df0 = engine.query(q)
      // a no-FROM select carries the reference's constant 'result'
      // row name (MLDB-871/102) unless the query already names rows
      val df =
        if (df0.columns.exists(_.equalsIgnoreCase("rowName"))) df0
        else scala.util.Try(graft.sql.Parser.parse(q)).toOption match {
          case Some(stmt) if stmt.from.isEmpty =>
            df0.select(org.apache.spark.sql.functions.lit("result")
              .as("rowName") +: df0.columns.map(c => df0.col(s"`$c`")): _*)
          case _ => df0
        }
      formatJson(df, limit, format, headers)
    }
    // liveness probe (`server/mldb_server.cc` /ping;
    // python_mldb_interface_test's mldb.get('/ping'))
    server.createContext("/ping", (ex: HttpExchange) => handle(ex) { "null" })
    server.createContext("/v1/query", (ex: HttpExchange) => handle(ex) {
      runQueryRoute(queryParams(ex), bodyJson(ex))
    })
    // POST {target, body} re-dispatched as GET-with-body, for clients
    // that cannot send one (MLDB-1717 test_as_POST_body;
    // `server/mldb_server.cc` /v1/redirect/get)
    server.createContext("/v1/redirect/get", (ex: HttpExchange) => handle(ex) {
      val req = bodyJson(ex)
      val target = ProcJson.str(req, "target").getOrElse(
        throw new IllegalArgumentException("missing target"))
      val inner = ProcJson.field(req, "body").getOrElse(JsNull)
      val appRe = "^/v1/functions/([^/]+)/application$".r
      target match {
        case t if t.startsWith("/v1/query") => runQueryRoute(Map.empty, inner)
        case appRe(fn) =>
          // {"input": {...}} — the input OBJECT (MLDB-2163)
          val in = ProcJson.field(inner, "input").getOrElse(
            throw new IllegalArgumentException("missing input"))
          applicationJson(fn, ProcJson.stringify(in))
        case other => throw new IllegalArgumentException(
          s"redirect target '$other' not supported")
      }
    })
    server.createContext("/v1/datasets", (ex: HttpExchange) => handle(ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/datasets")
        .stripPrefix("/")
      (ex.getRequestMethod, path) match {
        case ("GET", "") =>
          engine.listDatasets.map(jsonStr).mkString("[", ",", "]")
        case ("DELETE", name) if !name.contains("/") =>
          // entity delete (python_mldb_interface_test's mldb.delete;
          // the reference's collection DELETE answers 204). An
          // error-state entity deletes cleanly too.
          val wasErrored = datasetErrors.remove(name).isDefined
          try engine.deleteDataset(name)
          catch { case _: NoSuchElementException if wasErrored => () }
          NoContent()
        case ("GET", routed) if routed.contains("/routes/") =>
          // MLDB-572/630: route calls on an entity that failed
          // creation answer 404 naming the creation error
          val base = routed.split("/routes/", 2)(0)
          datasetErrors.get(base) match {
            case Some((_, err)) => throw new NoSuchElementException(
              s"dataset '$base' is not available due to error in " +
                s"creation: $err")
            case None => throw new NoSuchElementException(
              s"no route '${routed.split("/routes/", 2)(1)}' on " +
                s"dataset '$base'")
          }
        case ("GET", name) =>
          // without ?limit, the reference returns the dataset's STATUS
          // object ({status: {rowCount}} — null_column_test asserts
          // it); ?limit=N keeps this server's row-sampling shape
          datasetErrors.get(name) match {
            case Some((tpe, err)) =>
              // MLDB-572: the errored entity's config stays readable
              s"""{"id": ${jsonStr(name)}, "state": "error", """ +
                s""""type": ${jsonStr(tpe)}, "error": ${jsonStr(err)}, """ +
                s""""config": {"id": ${jsonStr(name)}, """ +
                s""""type": ${jsonStr(tpe)}}}"""
            case None => queryParams(ex).get("limit") match {
              case Some(l) => rowsJson(engine.dataset(name), l.toInt)
              case None =>
                val df = engine.dataset(name)
                s"""{"id": ${jsonStr(name)}, "state": "ok", "status": """ +
                  s"""{"rowCount": ${df.count()}, """ +
                  s""""columnCount": ${df.columns.length}}}"""
            }
          }
        case ("PUT", name) =>
          val cfg = bodyJson(ex)
          // a TOP-LEVEL body id that CONTRADICTS the path name is the
          // reference's 400 (MLDB-348) — nested ids (params.dataset.id)
          // are config references, not the entity id
          ProcJson.str(cfg, "id").foreach { id =>
            if (id != name) throw new IllegalArgumentException(
              s"dataset config id '$id' does not match the PUT path '$name'")
          }
          queryParams(ex).get("path") match {
            case Some(p) =>
              engine.createDatasetFromParquet(name, p)
            case None =>
              // typed creation, the reference's config model:
              // body {"type": "merged"|"sampled"|"transposed"|
              // "union"|"sub"|"tabular"|"sparse.mutable", <params>}
              val tpe = ProcJson.str(cfg, "type").getOrElse("")
              try engine.createDatasetTyped(name, tpe, ProcJson.params(cfg))
              catch {
                // MLDB-572: a failed creation still registers the
                // entity, in error state, with its config readable —
                // the reference keeps the collection entry so the
                // client can inspect what failed
                case e: Exception =>
                  datasetErrors(name) = (tpe, String.valueOf(e.getMessage))
                  throw e
              }
              datasetErrors.remove(name)
          }
          Created(s"""{"created": ${jsonStr(name)}, "state": "ok"}""")
        case ("POST", "") =>
          // id-less creation auto-generates one with the reference's
          // `auto_` prefix (MLDB-983); POST-creating an EXISTING id is
          // the reference's duplicate-entry error (MLDB-312 — PUT
          // keeps overwrite semantics, MLDB-748)
          val cfg = bodyJson(ex)
          val name = ProcJson.str(cfg, "id").getOrElse(
            "auto_" + java.util.UUID.randomUUID().toString.replace("-", ""))
          if (engine.listDatasets.contains(name))
            throw new IllegalArgumentException(
              s"dataset entry '$name' already exists")
          engine.createDatasetTyped(name, ProcJson.str(cfg, "type")
            .getOrElse(""), ProcJson.params(cfg))
          Created(s"""{"id": ${jsonStr(name)}}""")
        case ("POST", nameRows) if nameRows.endsWith("/rows") =>
          // record API (`core/dataset.h:417-539`): body = JSON array
          // of flat row objects, or the reference's columns form
          // {rowName, columns: [[col, val, ts], …]} (cell timestamps
          // in epoch seconds or ISO; wide mode keeps the row's max as
          // its ts column)
          val name = nameRows.stripSuffix("/rows")
          val body = bodyText(ex)
          val rows = ProcJson.body(body)
          val flat =
            if (isColumnsForm(rows))
              columnsFormToFlat(rows, engine.timeQuantum(name))
            else body
          val n = engine.recordRows(name, flat)
          s"""{"recorded": $n}"""
        case ("POST", nameCols) if nameCols.endsWith("/columns") =>
          // column-oriented record (MLDB-541): body {columnName,
          // rows: [[rowName, value, ts], …]} — cells merge onto
          // named rows
          val name = nameCols.stripSuffix("/columns")
          val cfg = bodyJson(ex)
          val rows = ProcJson.field(cfg, "rows").collect { case a: JsArrV => a }
            .getOrElse(throw new IllegalArgumentException(
              "recordColumn needs rows"))
          val n = engine.recordColumnsJson(name, columnCellsToFlat(
            need(ProcJson.params(cfg), "columnName"), rows.elems.toSeq))
          s"""{"recorded": $n}"""
        case ("POST", nameCols) if nameCols.endsWith("/multicolumns") =>
          // body [[columnName, [[rowName, value, ts], …]], …]
          val name = nameCols.stripSuffix("/multicolumns")
          val pairs = elems(Some(bodyJson(ex))).collect {
            case p: JsArrV if p.elems.size == 2 &&
                p.elems(1).isInstanceOf[JsArrV] => p.elems.toSeq
          }
          require(pairs.nonEmpty, "recordColumns needs [[columnName, rows]] pairs")
          val total = pairs.map { case Seq(col, rows) =>
            engine.recordColumnsJson(name, columnCellsToFlat(
              ProcJson.paramString(col), elems(Some(rows))))
          }.sum
          s"""{"recorded": $total}"""
        case ("POST", nameSaves) if nameSaves.endsWith("/routes/saves") =>
          // continuous dataset rotation (MLDB-825 /routes/saves):
          // snapshot to dataFileUrl + metadata entry
          val name = nameSaves.stripSuffix("/routes/saves")
          engine.saveContinuous(name,
            need(ProcJson.params(bodyJson(ex)), "dataFileUrl"))
        case ("POST", nameCommit) if nameCommit.endsWith("/commit") =>
          // persists file-backed mutable datasets (sqliteSparse);
          // a no-op in plain wide mode (recordRows is immediate)
          engine.commitDataset(nameCommit.stripSuffix("/commit"))
          """{"committed": true}"""
        case (m, _) => throw new IllegalArgumentException(s"unsupported $m")
      }
    })
    server.createContext("/v1/sensors", (ex: HttpExchange) => handle(ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/sensors")
        .stripPrefix("/")
      path match {
        case "" => engine.listSensors.map(jsonStr).mkString("[", ",", "]")
        case latest if latest.endsWith("/latest") =>
          rowsJson(engine.sensorLatest(latest.stripSuffix("/latest")), 100)
        case other => throw new IllegalArgumentException(s"unsupported $other")
      }
    })
    server.createContext("/v1/functions", (ex: HttpExchange) => handle(ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/functions")
        .stripPrefix("/")
      path match {
        case "" => engine.listFunctions.map(jsonStr).mkString("[", ",", "]")
        case name if ex.getRequestMethod == "PUT" && !name.contains("/") =>
          // typed creation (`PUT /v1/functions/<n> {type, params}`):
          // sql.expression → dialect macro; sql.query → $param-ized
          // per-row lookup (MLDB-784) or registration-time row
          // function (MLDB-1320) when parameterless
          val cfg = bodyJson(ex)
          val p = ProcJson.params(cfg)
          val tpe = ProcJson.str(cfg, "type").getOrElse(
            throw new IllegalArgumentException("missing field type"))
          tpe match {
            case "sql.expression" =>
              // `prepared` is accepted as a no-op performance hint —
              // every application here compiles to a bound projection
              // already. raw/autoInput change the application shape
              // (MLDB-2022's /batch route).
              engine.createSqlExpressionFunction(name,
                need(p, "expression"),
                raw = p("raw").contains("true"),
                autoInput = p("autoInput")
                  .contains("true"))
            case "sql.query" =>
              val q = need(p, "query")
              val out = p("output").getOrElse("FIRST_ROW")
              if (q.contains("$"))
                engine.createSqlQueryDialectFunction(name, q, out)
              else engine.createSqlQueryRowFunction(name, q, out)
            // NLP function entities (plugins/nlp) alias the dialect
            // builtins with the reference's pinned input names
            // (MLDB-1030/1126). `language` selects the Snowball
            // algorithm (english/french/german/spanish) and is
            // validated at CREATION time like the reference
            // (`nlp.cc:277` sb_stemmer_new check).
            case "stemmer" =>
              val lang = p("language").getOrElse("english")
              graft.functions.SnowballStemmer.validate(lang)
              engine.createSqlExpressionFunction(name,
                s"stemmer({words: words, language: '$lang'})[words] AS words")
            case "stemmerdoc" =>
              val lang = p("language").getOrElse("english")
              graft.functions.SnowballStemmer.validate(lang)
              engine.createSqlExpressionFunction(name,
                s"stemmerdoc({document: document, language: '$lang'})" +
                  "[document] AS document")
            case "filter_stopwords" =>
              // the reference ships an english-only stopword table and
              // rejects anything else at creation (`nlp.cc:73-76`)
              val lang = p("language").getOrElse("english")
              if (lang != "english") throw new IllegalArgumentException(
                s"Unsupported language: $lang")
              engine.createSqlExpressionFunction(name,
                "filter_stopwords({words: words})[words] AS words")
            case "pooling" =>
              val ds = need(p, "embeddingDataset")
              // a JSON array param reads as a bare comma list
              // (avg,max); rebuild a dialect array of SINGLE-quoted
              // string literals — double quotes would lex as quoted
              // identifiers and the pooling handler requires StrLits.
              val aggs = p("aggregators")
                .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
                .getOrElse(Seq("avg"))
              val arr = aggs.map(a => s"'$a'").mkString("[", ",", "]")
              engine.createSqlExpressionFunction(name,
                s"pooling({words: words, embeddingDataset: '$ds', " +
                  s"aggregators: $arr})[embedding] AS embedding")
            case "kmeans" =>
              // MLDB-285: nearest-centroid assignment with a model
              // trained by the kmeans.train procedure
              engine.createKmeansFunction(name,
                need(p, "modelFileUrl"))
            case "classifier" =>
              // MLDB-647/173: apply a model trained by classifier.train
              engine.createClassifierFunction(name,
                need(p, "modelFileUrl"))
            case "classifier.explain" =>
              // MLDB-573: per-feature contribution explanations
              engine.createClassifierExplainFunction(name,
                need(p, "modelFileUrl"))
            case "probabilizer" =>
              // MLDB-59: calibrate a raw score into a probability
              engine.createProbabilizerFunction(name,
                need(p, "modelFileUrl"))
            case "script.apply" =>
              // MLDB-643: a function backed by a script. python runs
              // driver-side per call; the JS flavor is the per-row
              // executor path (createScriptFunction)
              val lang = p("language")
                .getOrElse("javascript")
              require(lang == "python",
                "script.apply REST creation supports language: python " +
                  "(JS script functions register via script expressions)")
              engine.createPythonScriptFunction(name,
                ProcJson.scriptSource(ProcJson.lookup(cfg)).getOrElse(
                  throw new IllegalArgumentException("missing field source")))
            case "svm" =>
              // MLDB-991: one-vs-rest margins argmax over a model
              // trained by svm.train
              engine.createSvmFunction(name,
                need(p, "modelFileUrl"))
            case "experimental.distTable.getStats" =>
              // MLDB-1750: final dist-table stats per argument key
              engine.createDistTableGetStatsFunction(name,
                need(p, "distTableFileUrl"),
                p("statistics").map(
                  _.stripPrefix("[").stripSuffix("]").split(",")
                    .map(_.trim.stripPrefix("\"").stripSuffix("\""))
                    .filter(_.nonEmpty).toSeq))
            case "statsTable.getCounts" =>
              // MLDB-873: per-key counts from a trained stats table
              engine.createStatsTableFunction(name,
                need(p, "statsTableFileUrl"))
            case "statsTable.bagOfWords.posneg" =>
              // MLDB-873/MLDBFB-506: top/bottom word probabilities
              engine.createStatsTablePosNegFunction(name,
                need(p, "statsTableFileUrl"),
                need(p, "outcomeToUse"),
                p("numPos").map(_.toInt).getOrElse(50),
                p("numNeg").map(_.toInt).getOrElse(50),
                p("minTrials").map(_.toInt).getOrElse(50))
            case "gaussianclustering" =>
              // MLDB-1353: max-posterior cluster of the argument row
              engine.createGaussianClusteringFunction(name,
                need(p, "modelFileUrl"))
            case "tokensplit" =>
              // MLDB-1116: special-token re-tokenizer configured by a
              // tokens query
              engine.createTokensplitFunction(name,
                need(p, "tokens"))
            case "embedding.neighbors" =>
              // MLDB-283: nearest points of a configured embedding
              // dataset
              engine.createEmbeddingNeighborsFunction(name,
                need(p, "dataset"),
                p("defaultNumNeighbors")
                  .map(_.toInt).getOrElse(100))
            case "tfidf" =>
              // MLDB-1101: tf·idf scoring with a model trained by
              // tfidf.train
              engine.createTfidfFunction(name,
                need(p, "modelFileUrl"),
                p("tfType").getOrElse("raw"),
                p("idfType").getOrElse("inverseSmooth"))
            case "svd.embedRow" =>
              // MLDB-805/498: embed one argument row with a model
              // trained by the svd.train procedure
              engine.createSvdEmbedFunction(name,
                need(p, "modelFileUrl"),
                p("maxSingularValues").map(_.toInt)
                  .getOrElse(Int.MaxValue))
            case "feature_hasher" =>
              val bits = p("numBits").getOrElse("8")
              val mode = p("mode").getOrElse("columns")
              engine.createSqlExpressionFunction(name,
                s"feature_hasher({columns: columns, numBits: $bits, " +
                  s"mode: '$mode'})[hash] AS hash")
            case other => throw new IllegalArgumentException(
              s"unknown function type '$other'")
          }
          s"""{"created": ${jsonStr(name)}}"""
        case rt if ex.getRequestMethod == "POST" &&
            rt.endsWith("/routes/increment") =>
          // realtime dist-table update (MLDB-1750 test_real_time):
          // body {keys: [[table, value], …], outcomes: [n, …]}
          val fn = rt.stripSuffix("/routes/increment")
          val cfg = bodyJson(ex)
          val keys = elems(ProcJson.field(cfg, "keys")).collect {
            case k: JsArrV if k.elems.size == 2 =>
              ProcJson.paramString(k.elems(0)) -> ProcJson.paramString(k.elems(1))
          }
          val outcomes = elems(ProcJson.field(cfg, "outcomes"))
            .map(o => ProcJson.paramString(o).toDouble)
          engine.distTableIncrement(fn, keys, outcomes)
          """{"incremented": true}"""
        case rt if ex.getRequestMethod == "POST" &&
            rt.endsWith("/routes/persist") =>
          // snapshot the updated table under a new modelFileUrl
          val fn = rt.stripSuffix("/routes/persist")
          engine.distTablePersist(fn,
            need(ProcJson.params(bodyJson(ex)), "modelFileUrl"))
          """{"persisted": true}"""
        case app if app.endsWith("/application") =>
          // single-row function application
          // (`server/mldb_server.cc` application route)
          val name = app.stripSuffix("/application")
          val input = queryParams(ex).getOrElse("input",
            throw new IllegalArgumentException("missing input parameter"))
          if (queryParams(ex).get("outputFormat").contains("json"))
            applicationPlainJson(name, input)
          else applicationJson(name, input)
        case b if b.endsWith("/batch") =>
          // apply a raw/autoInput sql.expression to EACH element of a
          // JSON array (MLDB-2022's score_one over [[1,2,3],[4,5],…])
          val name = b.stripSuffix("/batch")
          val input = queryParams(ex).getOrElse("input",
            throw new IllegalArgumentException("missing input parameter"))
          batchJson(name, input)
        case det if det.endsWith("/details") =>
          // model introspection (MLDB-174/961 read the trained
          // feature list out of /details)
          engine.functionDetails(det.stripSuffix("/details"))
        case inf if inf.endsWith("/info") =>
          // ValueInfo reflection of the function's input/output rows
          // (MLDB-654 pins the exact shape)
          engine.functionInfo(inf.stripSuffix("/info"))
        case name if ex.getRequestMethod == "GET" && !name.contains("/") =>
          // single-function status (MLDB-926 GETs each auto-created
          // function)
          if (!engine.functionExists(name))
            throw new NoSuchElementException(s"function '$name' not found")
          s"""{"id": ${jsonStr(name)}, "state": "ok"}"""
        case other => throw new IllegalArgumentException(s"unsupported $other")
      }
    })
    server.createContext("/v1/plugins", (ex: HttpExchange) => handle(ex) {
      // the fifth entity kind (core/mldb_entity.h): named script +
      // custom routes. PUT registers (compiles — bad code → 400),
      // GET lists/statuses, DELETE unloads,
      // GET <name>/routes/<path>?… dispatches to the plugin handler.
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/plugins")
        .stripPrefix("/")
      (ex.getRequestMethod, path) match {
        case ("GET", "") =>
          engine.listPlugins.map(jsonStr).mkString("[", ",", "]")
        case ("PUT", name) if !name.contains("/") =>
          val cfg = bodyJson(ex)
          def create(): Unit =
            // the script toolbox signals compile failures as a bare
            // Throwable (ToolBoxError, non-fatal), not an Exception —
            // surface as 400. The reference's config carries `type:
            // "javascript"` and a source OBJECT ({main: "…"}) — both
            // accepted here (MLDB-2022's myapi plugin).
            try {
              val p = ProcJson.params(cfg)
              val lang = p("language")
                .orElse(ProcJson.str(cfg, "type")
                  .filter(t => t == "javascript" || t == "python"))
                .getOrElse("scala")
              val source = ProcJson.lookup(cfg)("source") match {
                // python plugins carry `params.source.routes` (the
                // per-request route script — MLDB-2114/444)
                case Some(o: JsObjV) =>
                  (if (lang == "python") ProcJson.str(o, "routes")
                    .orElse(ProcJson.str(o, "main"))
                  else ProcJson.str(o, "main")).getOrElse(
                    throw new IllegalArgumentException("missing field source"))
                case _ => need(p, "source")
              }
              engine.createPlugin(name, source, lang)
            }
            catch {
              case e: IllegalArgumentException => throw e
              case NonFatal(e) => throw new IllegalArgumentException(
                s"plugin did not compile: ${e.getMessage}")
            }
          if (isAsync(ex)) {
            // MLDB-305: async creation answers state "initializing";
            // construction completes on a background thread
            val latch = new java.util.concurrent.CountDownLatch(1)
            pluginBuilds(name) = latch
            pluginErrors.remove(name)
            pluginStates(name) = "initializing"
            val t = new Thread(() => {
              try { create(); pluginStates(name) = "ok" }
              catch {
                // the reason first: a GET that sees "error" reads it too
                case NonFatal(e) =>
                  pluginErrors(name) = String.valueOf(e.getMessage)
                  pluginStates(name) = "error"
              }
              finally latch.countDown()
            }, s"graft-plugin-$name")
            t.setDaemon(true)
            t.start()
            s"""{"created": ${jsonStr(name)}, "state": "initializing"}"""
          } else {
            create()
            pluginErrors.remove(name)
            pluginStates(name) = "ok"
            s"""{"created": ${jsonStr(name)}, "state": "ok"}"""
          }
        case ("DELETE", name) if !name.contains("/") =>
          // MLDB-881: a DELETE on an in-construction entity WAITS for
          // the construction, then deletes; the reference answers 204
          // (rest_collection_impl.h:1705)
          pluginBuilds.get(name).foreach(_.await())
          pluginBuilds.remove(name)
          pluginErrors.remove(name)
          val prevState = pluginStates.remove(name)
          // an async construction that FAILED left tracked state but
          // no engine entity — its DELETE is still the entity 204,
          // not a 404 (the dataset path's wasErrored rule)
          try engine.deletePlugin(name)
          catch {
            case _: NoSuchElementException
              if prevState.exists(_ != "ok") => ()
          }
          NoContent()
        case ("GET", name) if !name.contains("/") =>
          // a registered status handler contributes `status` (a
          // throwing handler surfaces its error — statusexc)
          val status = engine.pluginStatus(name)
            .map(j => s""", "status": $j""").getOrElse("")
          pluginStates.get(name) match {
            case Some(st) =>
              val error = pluginErrors.get(name)
                .map(e => s""", "error": ${jsonStr(e)}""").getOrElse("")
              s"""{"name": ${jsonStr(name)}, "state": ${jsonStr(st)}""" +
                s"""$error$status}"""
            case None =>
              if (!engine.listPlugins.contains(name))
                throw new NoSuchElementException(s"plugin '$name' not found")
              s"""{"name": ${jsonStr(name)}, "state": "ok"$status}"""
          }
        case (verb, routed) if routed.contains("/routes/") =>
          // all verbs reach the handler (MLDB-2114: a python route
          // answers GET/POST/PUT/DELETE with its own status code);
          // params stay ORDERED (the reference's [name, value] pairs —
          // MLDB-444 mirrors them back verbatim)
          val Array(name, route) = routed.split("/routes/", 2)
          val rawBody = bodyText(ex)
          val payload =
            if (rawBody.trim.isEmpty) "null\n" else rawBody + "\n"
          engine.pluginRouteFull(name, GraftEngine.PluginReq(
            route, verb, orderedParams(ex), payload)) match {
            case GraftEngine.PluginHttp(status, json) =>
              WithStatus(status, json)
            // any Dataset (typed or Row) renders as rows — a script's
            // s.range(n) without .toDF must not ClassCast
            case ds: org.apache.spark.sql.Dataset[_] => rowsJson(ds.toDF(), 100)
            case raw: RawJson => raw.json
            case s: String => jsonStr(s)
            case n: (java.lang.Number) => n.toString
            case b: java.lang.Boolean => b.toString
            case null => "null"
            case other => jsonStr(String.valueOf(other))
          }
        case (m, p) => throw new IllegalArgumentException(s"unsupported $m /$p")
      }
    })
    // ---- /v1/types + /v1/typeInfo (`server/mldb_server.cc` type
    // collections: per-kind type listings, per-type config info, and
    // the javascript/python TYPE-level `routes/run` script runner —
    // MLDB-255/1000/497/251/980) -------------------------------------
    // ---- /v1/credentials (`rest/in_process_rest_connection` cred
    // collection; MLDB-1468): named credential rules, CRUD only — the
    // stored secrets would feed s3/http fetchers, none of which this
    // engine reaches in an egress-free deployment --------------------
    server.createContext("/v1/credentials", (ex: HttpExchange) => handle(ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/credentials")
        .stripPrefix("/")
      (ex.getRequestMethod, path) match {
        case ("GET", "") =>
          credentials.keys.toSeq.sorted.map(jsonStr).mkString("[", ",", "]")
        case ("GET", name) =>
          credentials.getOrElse(name, throw new NoSuchElementException(
            s"credentials '$name' doesn't exist"))
        case ("PUT", name) =>
          val body = bodyText(ex)
          credentials(name) = body
          Created(s"""{"id": ${jsonStr(name)}}""")
        case ("POST", "") =>
          val body = bodyText(ex)
          val name = "auto_" + java.util.UUID.randomUUID().toString
            .replace("-", "").take(12)
          credentials(name) = body
          Created(s"""{"id": ${jsonStr(name)}}""")
        case ("DELETE", name) =>
          if (credentials.remove(name).isEmpty)
            throw new NoSuchElementException(
              s"credentials '$name' doesn't exist")
          NoContent()
        case (m, p) => throw new IllegalArgumentException(
          s"unsupported $m /v1/credentials/$p")
      }
    })
    server.createContext("/v1/typeInfo", (ex: HttpExchange) => handle(ex) {
      val t = queryParams(ex).getOrElse("type",
        throw new IllegalArgumentException("missing type parameter"))
      typeInfoJson(t)
    })
    server.createContext("/v1/types", (ex: HttpExchange) => handle(ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/types")
        .stripPrefix("/")
      // procedure types are the engine's procedure table's keys
      val catalog = RestServer.typeCatalog +
        ("procedures" -> engine.procedureTypes.keys.toSeq.sorted)
      (ex.getRequestMethod, path) match {
        case ("GET", "") =>
          catalog.keys.toSeq.sorted.map(jsonStr).mkString("[", ",", "]")
        case ("GET", kind) if !kind.contains("/") =>
          val types = catalog.getOrElse(kind,
            throw new NoSuchElementException(s"unknown kind '$kind'"))
          types.map(jsonStr).mkString("[", ",", "]")
        case ("GET", kindType) if kindType.endsWith("/info") =>
          val parts = kindType.stripSuffix("/info").split("/", 2)
          if (parts.length != 2) throw new IllegalArgumentException(
            s"bad type info path '$kindType'")
          val (kind, tpe) = (parts(0), parts(1))
          if (!catalog.get(kind).exists(_.contains(tpe)))
            throw new NoSuchElementException(
              s"unknown $kind type '$tpe'")
          val pinned =
            if (kind == "procedures") engine.procedureTypes(tpe).configType
            else None
          s"""{"configType": {"typeName": ${jsonStr(pinned.getOrElse(
            RestServer.configTypeName(tpe)))}, "kind": "STRUCTURE"}}"""
        case ("POST", "plugins/javascript/routes/run") =>
          runScriptRoute("javascript", bodyJson(ex))
        case ("POST", "plugins/python/routes/run") =>
          runScriptRoute("python", bodyJson(ex))
        case (m, p) => throw new IllegalArgumentException(
          s"unsupported $m /v1/types/$p")
      }
    })
    // generic named/typed procedure handling, shared by the
    // /v1/procedures context and the /v1/procedures/transform
    // context's fallthrough (the JDK HttpServer matches contexts by
    // STRING prefix, so /v1/procedures/transform_procedure lands in
    // the transform context — MLDB-1025's procedure name)
    def proceduresGeneric(ex: HttpExchange): String = {
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/procedures")
        .stripPrefix("/")
      proceduresDispatch(ex, path, bodyText(ex))
    }
    server.createContext("/v1/procedures/transform", (ex: HttpExchange) => handle(ex) {
      val raw = ex.getRequestURI.getPath
        .stripPrefix("/v1/procedures/transform")
      if (raw.nonEmpty && !raw.startsWith("/")) proceduresGeneric(ex)
      else {
      val path = raw.stripPrefix("/")
      // read once: a fallthrough to the named-procedure routes gets it too
      val body = bodyText(ex)
      (ex.getRequestMethod, path) match {
        // the legacy routes run the `transform` procedure type with
        // the body's inputQuery / outputDataset
        case ("POST", "") =>
          engine.runProcedure("transform", ProcJson.lookup(ProcJson.body(body)),
            None)
        case ("POST", "runs") =>
          // a NAMED procedure registered as literally 'transform'
          // (MLDB-409 does exactly this) owns …/transform/runs; the
          // legacy async-run body carries inputQuery and disambiguates
          val cfg = ProcJson.lookup(ProcJson.body(body))
          cfg("inputQuery") match {
            case Some(_) =>
              val id = engine.startProcedureRunAsync("transform", cfg, None)
              s"""{"runId": ${jsonStr(id)}, "state": "executing"}"""
            case None if procedures.contains("transform") =>
              proceduresDispatch(ex, "transform/runs", body)
            case None =>
              throw new IllegalArgumentException("missing field inputQuery")
          }
        case ("GET", runPath) if runPath.startsWith("runs/") =>
          val run = engine.runStatus(runPath.stripPrefix("runs/"))
          val err = run.error.map(e => s""", "error": ${jsonStr(e)}""").getOrElse("")
          s"""{"runId": ${jsonStr(run.id)}, "state": ${jsonStr(run.state)}, "rowCount": ${run.rowCount}$err}"""
        // PUT /v1/procedures/transform (a named procedure literally
        // called 'transform') registers like any other name
        case _ => proceduresDispatch(ex, "transform" +
          (if (path.isEmpty) "" else s"/$path"), body)
      }
      }
    })
    server.createContext("/v1/procedures", (ex: HttpExchange) => handle(ex) {
      // typed procedure dispatch: POST /v1/procedures runs anonymously;
      // PUT /v1/procedures/<name> registers a NAMED procedure config
      // (validated at creation — the reference 400s a bad bucketize
      // range at PUT time, MLDB-1043) and POST <name>/runs executes it.
      proceduresGeneric(ex)
    })
    def proceduresDispatch(ex: HttpExchange, path: String,
        body: String): String = {
      def readConfig(): JsVal = {
        // the reference's message for bodyless PUT/POST (MLDB-1010)
        if (body.trim.isEmpty)
          throw new IllegalArgumentException("empty payload")
        ProcJson.body(body)
      }
      def typeOf(cfg: JsVal): String = ProcJson.str(cfg, "type").getOrElse(
        throw new IllegalArgumentException("missing field type"))
      def recordRun(name: String, id: String): String = {
        procRuns.updateWith(name) {
          case Some(rs) => Some(rs :+ (id, java.time.Instant.now()))
          case None => Some(Vector((id, java.time.Instant.now())))
        }
        id
      }
      def runNamed(name: String, runBody: JsVal): String = {
        val (tpe, cfg) = procedures.getOrElse(name,
          throw new NoSuchElementException(s"unknown procedure '$name'"))
        // params in the RUN body override the stored config's
        // (MLDB-894: runs can override conf)
        val started = java.time.Instant.now()
        val res = engine.runProcedure(tpe, ProcJson.lookup(runBody, cfg),
          Some(name))
        val finished = java.time.Instant.now()
        // run responses carry the lifecycle instants (MLDB-525
        // asserts runStarted <= runFinished on the PUT's json)
        if (res.trim.startsWith("{")) {
          val prefix = s"""{"runStarted": ${jsonStr(started.toString)}, """ +
            s""""runFinished": ${jsonStr(finished.toString)}, """ +
            s""""state": "finished""""
          val inner = res.trim.drop(1).trim
          if (inner == "}") prefix + "}" else prefix + ", " + inner
        } else res
      }
      (ex.getRequestMethod, path) match {
        case ("GET", "") => procedures.keys.toSeq.sorted
          .map(jsonStr).mkString("[", ",", "]")
        case ("POST", "") =>
          // anonymous creation also answers 201 like the reference's
          // PolyCollection POST (MLDBFB-332 asserts it on /v1/procedures)
          val cfg = readConfig()
          Created(engine.runProcedure(typeOf(cfg), ProcJson.lookup(cfg),
            ProcJson.str(cfg, "id")))
        case ("PUT", name) if !name.contains("/") =>
          val cfg = readConfig()
          val tpe = typeOf(cfg)
          // creation-time config validation (the reference rejects the
          // config itself, before any run). A BROKEN config still
          // registers the entity (MLDB-2112: the failed PUT leaves a
          // GETtable procedure with no runs).
          procedures(name) = (tpe, cfg)
          val params = ProcJson.lookup(cfg)
          engine.validateProcedure(tpe, params, Some(name))
          // MLDB-951: with runOnCreation the response carries the
          // first run under status.firstRun; without it there is NO
          // status field at all
          val out =
            if (ProcJson.params(cfg)("runOnCreation").exists(_.toBoolean)) {
              val run = engine.runProcedure(tpe, params, Some(name))
              recordRun(name, java.util.UUID.randomUUID().toString.take(8))
              s"""{"id": ${jsonStr(name)}, "status": {"firstRun": $run}}"""
            } else s"""{"id": ${jsonStr(name)}}"""
          Created(out) // the reference answers 201 on entity creation
        case ("GET", name) if !name.contains("/") =>
          val (tpe, _) = procedures.getOrElse(name,
            throw new NoSuchElementException(s"procedure '$name' not found"))
          s"""{"id": ${jsonStr(name)}, "type": ${jsonStr(tpe)}}"""
        case ("GET", latestPath) if latestPath.endsWith("/latestrun") =>
          // MLDB-1359: the most recent run's id + start time; 404 when
          // the procedure never ran (or does not exist)
          val name = latestPath.stripSuffix("/latestrun")
          if (!procedures.contains(name))
            throw new NoSuchElementException(s"procedure '$name' not found")
          procRuns.get(name).flatMap(_.lastOption) match {
            case Some((id, at)) =>
              s"""{"id": ${jsonStr(id)}, "runStarted": ${jsonStr(
                at.toString)}, "state": "finished"}"""
            case None => throw new NoSuchElementException(
              s"procedure '$name' has no runs")
          }
        case ("GET", runPath) if runPath.endsWith("/runs") =>
          // 404 when the procedure has no runs (MLDB-2112's broken
          // proc), else the run-id list
          val name = runPath.stripSuffix("/runs")
          procRuns.get(name).filter(_.nonEmpty) match {
            case Some(rs) =>
              rs.map(r => jsonStr(r._1)).mkString("[", ",", "]")
            case None => throw new NoSuchElementException(
              s"procedure '$name' has no runs")
          }
        case ("PUT", runPath) if runPath.endsWith("/runs") =>
          // a PUT needs the run NAME in the path (MLDB-326's 404)
          throw new NoSuchElementException(
            "PUT of a run needs a run id in the path; POST to /runs " +
              "for an auto-generated one")
        case ("GET", detPath) if detPath.contains("/runs/") &&
            detPath.endsWith("/details") =>
          // run details (MLDB-779 reads them after classifier.train):
          // the stored run result for async runs, {} for sync runs
          // recorded by name only
          val Array(nm, rest) = detPath.split("/runs/", 2)
          val runId = rest.stripSuffix("/details")
          engine.runStatusOpt(runId).flatMap(_.result)
            .orElse(syncRunResults.get(runId)).getOrElse {
              if (procRuns.get(nm).exists(_.exists(_._1 == runId))) "{}"
              else throw new NoSuchElementException(s"run '$runId' not found")
            }
        case ("GET", statePath) if statePath.contains("/runs/") &&
            statePath.endsWith("/state") =>
          // MLDB-408: poll a run's lifecycle state
          val runId = statePath.split("/runs/", 2)(1).stripSuffix("/state")
          engine.runStatusOpt(runId) match {
            case Some(r) => s"""{"state": ${jsonStr(r.state)}}"""
            case None => throw new NoSuchElementException(
              s"run '$runId' not found")
          }
        case ("PUT", statePath) if statePath.contains("/runs/") &&
            statePath.endsWith("/state") =>
          // MLDB-408: {"state": "cancelled"} interrupts the run and
          // cancels its Spark job group; any other target state is 400
          val runId = statePath.split("/runs/", 2)(1).stripSuffix("/state")
          val target = need(ProcJson.params(readConfig()), "state")
          if (target != "cancelled") throw new IllegalArgumentException(
            s"cannot set run state to '$target'; only 'cancelled' is " +
              "accepted")
          s"""{"state": ${jsonStr(engine.cancelRun(runId))}}"""
        case ("PUT", runPath) if runPath.contains("/runs/") =>
          // named run: PUT <proc>/runs/<id> executes the stored config
          // under that id (MLDB-1359 asserts id '000' round-trips);
          // the run body's params override the config's (MLDB-894)
          val Array(name, runId) = runPath.split("/runs/", 2)
          val runBody = ProcJson.body(body)
          // a body id contradicting the path id is a 400 (MLDB-326)
          ProcJson.str(runBody, "id").foreach { id =>
            if (id != runId) throw new IllegalArgumentException(
              s"run config id '$id' does not match the PUT path '$runId'")
          }
          val run = runNamed(name, runBody)
          recordRun(name, runId)
          syncRunResults(runId) = run
          // created "in the right place" (MLDB-642 checks the header)
          CreatedAt(run, s"/v1/procedures/$name/runs/$runId")
        case ("GET", runPath) if runPath.contains("/runs/") =>
          // run status by id (MLDB-1570/2110 poll the POST's Location):
          // state + the reference's progress steps, and the result
          // under `status` once finished
          val Array(name, runId) = runPath.split("/runs/", 2)
          engine.runStatusOpt(runId) match {
            case Some(r) =>
              val prog =
                if (r.progress.isEmpty) ""
                else ", \"progress\": {\"steps\": [" + r.progress.map {
                  case (n, t, v) =>
                    s"""{"name": ${jsonStr(n)}, "type": ${jsonStr(t)}, """ +
                      s""""value": $v}"""
                }.mkString(",") + "]}"
              val status = r.result.map(j => s""", "status": $j""")
                .getOrElse("")
              val err = r.error.map(e => s""", "error": ${jsonStr(e)}""")
                .getOrElse("")
              val times = s""", "runStarted": ${jsonStr(
                r.started.toString)}""" + r.finished.map(f =>
                s""", "runFinished": ${jsonStr(f.toString)}""").getOrElse("")
              s"""{"id": ${jsonStr(r.id)}, "state": ${jsonStr(r.state)}""" +
                s"""$times$prog$status$err}"""
            case None =>
              // a sync run recorded by name only: it has finished
              if (procRuns.get(name).exists(_.exists(_._1 == runId)))
                s"""{"id": ${jsonStr(runId)}, "state": "finished"}"""
              else throw new NoSuchElementException(
                s"run '$runId' not found")
          }
        case ("POST", runPath) if runPath.endsWith("/runs") =>
          val name = runPath.stripSuffix("/runs")
          val runBody = ProcJson.body(body)
          if (isAsync(ex)) {
            // async run (MLDB-1570): 201 + Location of the run status
            val (tpe, cfg) = procedures.getOrElse(name,
              throw new NoSuchElementException(s"unknown procedure '$name'"))
            val id = engine.startProcedureRunAsync(tpe,
              ProcJson.lookup(runBody, cfg), Some(name))
            recordRun(name, id)
            CreatedAt(s"""{"id": ${jsonStr(id)}, "state": "initializing"}""",
              s"/v1/procedures/$name/runs/$id")
          } else {
            val run = runNamed(name, runBody)
            val id = java.util.UUID.randomUUID().toString.take(8)
            recordRun(name, id)
            syncRunResults(id) = run
            CreatedAt(run, s"/v1/procedures/$name/runs/$id")
          }
        case (m, p) => throw new IllegalArgumentException(s"unsupported $m /$p")
      }
    }
    // a CACHED pool, not the single dispatch thread: a route handler
    // that calls back into the API (a python plugin performing a
    // sub-request — MLDB-538's /deadlock → /deadlock2) must not wait
    // on its own thread
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      r => { val t = new Thread(r, "graft-rest"); t.setDaemon(true); t }))
    server.start()
    val port = server.getAddress.getPort
    engine.restPort = Some(port)
    port
  }

  def stop(): Unit = server.stop(0)

  /** The reference's query output formats
    * (`doc/builtin/sql/QueryAPI.md:7-28`): `aos` (array of objects,
    * the default here), `table` (positional arrays with an optional
    * header row), `soa` (one array per column), `sparse` (rows as
    * [column, value] pair arrays), `atom` (single cell or 400).
    * `full` serves the sparse shape: this engine's wide mode has no
    * per-cell timestamps to add (documented divergence — rowName /
    * rowHash are ordinary columns in the typed data model, so the
    * reference's `_rowName`/`_rowHash` implicit columns are expressed
    * in the query itself). NaN/Inf follow the reference's cell
    * conventions: `{"num": "NaN"}` everywhere except `table`, which
    * stringifies. */
  private def formatJson(df0: org.apache.spark.sql.DataFrame, limit: Int,
      format: String, headers: Boolean): String = {
    // the reference's row-oriented formats see nested rows FLATTENED
    // to dotted columns (`y.x` — MLDB-668/832, `x() AS *` in
    // MLDB-1315 yields columns `output.a`, `output.b`): the typed
    // engine keeps struct columns internally, so the format layer —
    // and only it — unnests them for table/sparse consumers
    val df1 = format match {
      case "table" | "sparse" | "full" => flattenStructs(df0)
      case _ => df0
    }
    // A carried rowName column renders as the reference's `_rowName`,
    // FIRST (MLDB-102/1120 pin the key and its position in every
    // format); atom extracts the single VALUE, so there it is dropped.
    val rnIdx = df1.columns.indexWhere(_.equalsIgnoreCase("rowName"))
    val df = if (rnIdx < 0) df1 else {
      val cols = df1.columns
      if (format == "atom")
        df1.select(cols.filterNot(_.equalsIgnoreCase("rowName"))
          .map(c => df1.col(s"`$c`")): _*)
      else
        df1.select((df1.col(s"`${cols(rnIdx)}`").as("_rowName") +:
          cols.filterNot(_.equalsIgnoreCase("rowName"))
            .map(c => df1.col(s"`$c`")).toSeq): _*)
    }
    // positional formats render value columns in SORTED name order —
    // the reference's row model keeps cells path-sorted (MLDB-409 pins
    // q,x,y,z for a SELECT of x,y,z,q; `runHttpQuery`'s sparse encoder
    // re-sorts explicitly, `engine/dataset_collection.cc:92`); object
    // formats (aos/soa) have no observable key order and keep the
    // projection order
    val dfS = format match {
      case "table" | "sparse" | "full" =>
        val names = df.columns
        val value = names.filterNot(_ == "_rowName").sorted
        val ordered = names.filter(_ == "_rowName") ++ value
        if (ordered.sameElements(names)) df
        else df.select(ordered.map(c => df.col(s"`$c`")).toSeq: _*)
      case _ => df
    }
    val schema = dfS.schema
    val rows = dfS.take(limit)
    def cell(r: org.apache.spark.sql.Row, i: Int, table: Boolean): String =
      if (r.isNullAt(i)) "null"
      else valueJsonFmt(r.get(i), schema.fields(i).dataType, table)
    format match {
      case "aos" =>
        // explicit nulls: the result is rectangular (the SELECT list),
        // so a selected-but-missing cell renders as `"z": null`
        // (MLDB-102's aos battery)
        rows.iterator.map(r =>
          schema.fields.indices.map(i =>
            s"${jsonStr(schema.fields(i).name)}:${cell(r, i, table = false)}")
            .mkString("{", ",", "}")).mkString("[", ",", "]")
      case "table" =>
        // the reference derives table columns from the ROWS: only
        // columns with at least one present cell appear — an empty
        // result prints just the _rowName header
        // (where-without-dataset.py pins [["_rowName"]];
        // union_dataset_test's LIMIT 1 drops the other side's column)
        val live = schema.fields.indices.filter(i =>
          schema.fields(i).name == "_rowName" ||
            rows.exists(r => !r.isNullAt(i)))
        val header = if (headers)
          Seq(live.map(i => jsonStr(schema.fields(i).name))
            .mkString("[", ",", "]"))
        else Seq.empty
        (header ++ rows.iterator.map(r =>
          live.map(cell(r, _, table = true))
            .mkString("[", ",", "]"))).mkString("[", ",", "]")
      case "soa" =>
        schema.fields.indices.map { i =>
          s"${jsonStr(schema.fields(i).name)}:${
            rows.iterator.map(cell(_, i, table = false)).mkString("[", ",", "]")}"
        }.mkString("{", ",", "}")
      case "sparse" =>
        // null cells are OMITTED: in wide mode the rectangular result
        // can't distinguish an absent sparse cell from an explicit
        // null, and SELECT * over sparse data (the common case,
        // MLDB-1120) expects only present cells. Documented
        // divergence: a column explicitly selected but absent
        // (MLDB-102's z) is omitted here, not rendered null.
        rows.iterator.map(r =>
          schema.fields.indices.filterNot(i =>
            r.isNullAt(i) && schema.fields(i).name != "_rowName").map { i =>
            s"[${jsonStr(schema.fields(i).name)},${cell(r, i, table = false)}]"
          }.mkString("[", ",", "]")).mkString("[", ",", "]")
      case "full" =>
        // the reference's default format: one object per row with
        // rowName and [column, value, ts] cells. Wide mode carries at
        // most one row-level ts column — it stamps every cell; null
        // cells (and ts-less results) read "-Inf" like the reference's
        // never-recorded cells.
        val tsIdx = schema.fields.indexWhere(f =>
          f.name.equalsIgnoreCase("ts") &&
            (f.dataType == org.apache.spark.sql.types.TimestampType ||
              f.dataType == org.apache.spark.sql.types.TimestampNTZType))
        rows.iterator.map { r =>
          val rn = schema.fields.indexWhere(_.name == "_rowName")
          val rowTs =
            if (tsIdx >= 0 && !r.isNullAt(tsIdx))
              jsonStr(isoUtc(r.get(tsIdx)))
            else jsonStr("-Inf")
          val cells = schema.fields.indices
            .filter(i => i != rn && i != tsIdx).map { i =>
              val ts = if (r.isNullAt(i)) jsonStr("-Inf") else rowTs
              s"[${jsonStr(schema.fields(i).name)},${cell(r, i, table = false)},$ts]"
            }.mkString("[", ",", "]")
          val rnPart =
            if (rn >= 0 && !r.isNullAt(rn)) jsonStr(r.getString(rn))
            else "null"
          s"""{"rowName":$rnPart,"columns":$cells}"""
        }.mkString("[", ",", "]")
      case "atom" =>
        // the reference's four distinct diagnostics (MLDB-2107)
        if (schema.fields.length > 1) throw new IllegalArgumentException(
          "Query with atom format returned multiple columns")
        if (schema.fields.isEmpty) throw new IllegalArgumentException(
          "Query with atom format returned no column")
        if (rows.length > 1) throw new IllegalArgumentException(
          "Query with atom format returning multiple rows")
        if (rows.isEmpty) throw new IllegalArgumentException(
          "Query with atom format returned no rows.")
        cell(rows(0), 0, table = false)
      case other =>
        throw new IllegalArgumentException(s"unknown format $other")
    }
  }

  /** Struct columns → dotted leaf columns, recursively (plan-time
    * rename only — no data movement). */
  private def flattenStructs(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.StructType
    def leaves(prefix: String, c: org.apache.spark.sql.Column,
        dt: org.apache.spark.sql.types.DataType): Seq[org.apache.spark.sql.Column] =
      dt match {
        case st: StructType => st.fields.toSeq.flatMap(f =>
          leaves(s"$prefix.${f.name}", c.getField(f.name), f.dataType))
        case _ => Seq(c.as(prefix))
      }
    if (!df.schema.fields.exists(_.dataType.isInstanceOf[StructType])) df
    else df.select(df.schema.fields.toSeq.flatMap(f =>
      leaves(f.name, df.col(s"`${f.name}`"), f.dataType)): _*)
  }

  /** Single-row function application, rendered in the reference's
    * envelope: `{"output": {...}}` with atom cells plain and
    * ROW-valued cells as `[[column, [value, ts]], …]` pair lists
    * (MLDB-390's output.z = 3; MLDB-2163's NAMED_COLUMNS row as
    * [["x", [1, "NaD"]], …] — "NaD" is the reference's never-recorded
    * timestamp, which value-less applications always carry). Rows come
    * straight from the compiled projection (no Dataset, no planning) —
    * the thousands-of-calls/s path. */
  private def applicationJson(name: String, input: String): String = {
    val (schema, rows) = engine.applyFunctionJsonRows(name, input)
    require(rows.nonEmpty, s"function '$name' returned no row")
    val r = rows.head
    import org.apache.spark.sql.types.StructType
    val fields = schema.fields.indices.map { i =>
      val f = schema.fields(i)
      val v = f.dataType match {
        case st: StructType if !r.isNullAt(i) =>
          val sr = r.getStruct(i)
          st.fields.indices.map { j =>
            val cell =
              if (sr.isNullAt(j)) "null"
              else valueJson(sr.get(j), st.fields(j).dataType)
            s"[${jsonStr(st.fields(j).name)},[$cell,${jsonStr("NaD")}]]"
          }.mkString("[", ",", "]")
        case dt => if (r.isNullAt(i)) "null" else valueJson(r.get(i), dt)
      }
      s"${jsonStr(f.name)}:$v"
    }
    s"""{"output": ${fields.mkString("{", ",", "}")}}"""
  }

  /** `outputFormat=json` application rendering (MLDB-2022's scorer):
    * bare values, no output envelope — a row whose columns are the
    * contiguous integers 0..n-1 renders as a JSON ARRAY, anything else
    * as an object, recursively. */
  private def applicationPlainJson(name: String, input: String): String = {
    val (schema, rows) = engine.applyFunctionJsonRows(name, input)
    require(rows.nonEmpty, s"function '$name' returned no row")
    renderPlain(schema, rows.head)
  }

  private def renderPlain(schema: org.apache.spark.sql.types.StructType,
      r: org.apache.spark.sql.Row): String = {
    import org.apache.spark.sql.types.StructType
    def cell(dt: org.apache.spark.sql.types.DataType, v: Any): String =
      (dt, v) match {
        case (_, null) => "null"
        case (st: StructType, sr: org.apache.spark.sql.Row) =>
          renderPlain(st, sr)
        case (dt2, v2) => valueJson(v2, dt2)
      }
    val names = schema.fields.map(_.name)
    val vals = schema.fields.indices.map(i =>
      cell(schema.fields(i).dataType, if (r.isNullAt(i)) null else r.get(i)))
    if (names.nonEmpty &&
        names.zipWithIndex.forall { case (n, i) => n == i.toString })
      vals.mkString("[", ",", "]")
    else names.zip(vals).map { case (n, v) => s"${jsonStr(n)}:$v" }
      .mkString("{", ",", "}")
  }

  /** `GET /v1/functions/<n>/batch?input=[…]` — MLDB-2022: apply a
    * raw/autoInput sql.expression to each element of the array. The
    * payload is request-sized by definition; each element applies
    * through the same compiled zero-job projection as /application. */
  private def batchJson(name: String, inputJson: String): String = {
    import graft.js.JsInterp._
    val meta = engine.sqlExpressionMeta(name).getOrElse(
      throw new IllegalArgumentException(
        s"'$name' is not a sql.expression function — /batch applies " +
          "prepared sql.expression functions only"))
    // strict JSON parse — request data is DATA; evaluating it as a
    // script would run arbitrary user expressions against the step
    // budget (and accept non-JSON like [1,,2]). Parse failures are the
    // CLIENT's mistake → IllegalArgumentException → 400, not 500
    val parsedIn =
      try jsonParse(inputJson)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"batch input must be a JSON array: ${e.getMessage}") }
    val elems = parsedIn match {
      case a: JsArrV => a.elems.toSeq
      case _ => throw new IllegalArgumentException(
        "batch input must be a JSON array")
    }
    elems.map { elem =>
      val body = meta.inputVar match {
        case Some(v) =>
          s"""{${jsonStr(v)}: ${jsonStringify(elem).getOrElse("null")}}"""
        case None => jsonStringify(elem).getOrElse("null")
      }
      val (schema, rows) = engine.applyFunctionJsonRows(name, body)
      val r = rows.head
      if (meta.raw)
        if (r.isNullAt(0)) "null"
        else valueJson(r.get(0), schema.fields(0).dataType)
      else renderPlain(schema, r)
    }.mkString("[", ",", "]")
  }

  /** ISO-8601 UTC with the reference's `Z` suffix and no zero
    * fraction (`2015-12-25T00:00:00Z`; sub-second survives —
    * MLDB-409's no-FROM timestamp pin). `Instant.toString` renders in
    * true UTC regardless of the JVM default zone. */
  private def isoUtc(v: Any): String = {
    // the reference prints MINIMAL fractional digits ("…20.96Z", not
    // java's 3-digit group "…20.960Z" — MLDB-987's hundredth-second
    // render); whole seconds carry no fraction at all
    def minimalFraction(s: String): String =
      if (!s.contains('.')) s
      else {
        val t = s.stripSuffix("Z")
        val trimmed = t.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
        trimmed + "Z"
      }
    v match {
      case t: java.sql.Timestamp => minimalFraction(t.toInstant.toString)
      case t: java.time.Instant => minimalFraction(t.toString)
      case t: java.time.LocalDateTime => minimalFraction(
        t.atOffset(java.time.ZoneOffset.UTC).toInstant.toString)
      case other => String.valueOf(other).replace(' ', 'T')
    }
  }

  /** valueJson plus the reference's non-finite-number convention. */
  private def valueJsonFmt(v: Any, dt: org.apache.spark.sql.types.DataType,
      table: Boolean): String = {
    val nonFinite = v match {
      case d: Double if d.isNaN || d.isInfinite =>
        Some(if (d.isNaN) "NaN" else if (d > 0) "Inf" else "-Inf")
      case f: Float if f.isNaN || f.isInfinite =>
        Some(if (f.isNaN) "NaN" else if (f > 0) "Inf" else "-Inf")
      case _ => None
    }
    nonFinite match {
      case Some(s) => if (table) jsonStr(s) else s"""{"num":${jsonStr(s)}}"""
      case None => valueJson(v, dt)
    }
  }

  /** Render rows to JSON on the DRIVER (null fields omitted, matching
    * Spark's toJSON). `take` on a fully-local plan (the single-row
    * function-application route after ConvertToLocalRelation) executes
    * with zero Spark jobs — `toJSON.collect()` here forced a
    * mapPartitions job per call, capping scoring at ~40 calls/s where
    * the reference claims thousands. */
  private def rowsJson(df: org.apache.spark.sql.DataFrame, limit: Int): String = {
    val schema = df.schema
    df.take(limit).iterator.map(r => structJson(r, schema)).mkString("[", ",", "]")
  }

  private def structJson(r: org.apache.spark.sql.Row,
      st: org.apache.spark.sql.types.StructType): String =
    st.fields.indices.filterNot(r.isNullAt).map { i =>
      s"${jsonStr(st.fields(i).name)}:${valueJson(r.get(i), st.fields(i).dataType)}"
    }.mkString("{", ",", "}")

  private def valueJson(v: Any,
      dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => jsonStr(v.toString)
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | BooleanType | _: DecimalType => v.toString
      case TimestampType | TimestampNTZType => jsonStr(isoUtc(v))
      case DateType => jsonStr(v.toString)
      case BinaryType =>
        // the reference's blob cell JSON (`sql/cell_value.cc:1542`):
        // {"blob": […]} — runs of ≥2 printable-ASCII (incl \n\r\t)
        // bytes write as a string, everything else as integers
        val bytes = v.asInstanceOf[Array[Byte]]
        def isStr(b: Byte): Boolean = {
          val c = b & 0xFF
          (c >= ' ' && c < 127) || c == '\n' || c == '\r' || c == '\t'
        }
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < bytes.length) {
          var j = i
          while (j < bytes.length && isStr(bytes(j))) j += 1
          if (j - i == 1) parts += (bytes(i) & 0xFF).toString
          else if (j - i >= 2) parts += jsonStr(
            new String(bytes, i, j - i, StandardCharsets.US_ASCII))
          i = j
          while (i < bytes.length && !isStr(bytes(i))) {
            parts += (bytes(i) & 0xFF).toString
            i += 1
          }
        }
        parts.mkString("{\"blob\": [", ",", "]}")
      case ArrayType(et, _) => v.asInstanceOf[scala.collection.Seq[_]]
        .map(e => if (e == null) "null" else valueJson(e, et))
        .mkString("[", ",", "]")
      case st: StructType => structJson(v.asInstanceOf[org.apache.spark.sql.Row], st)
      case MapType(_, vt, _) => v.asInstanceOf[scala.collection.Map[_, _]]
        .map { case (k, mv) =>
          s"${jsonStr(String.valueOf(k))}:${
            if (mv == null) "null" else valueJson(mv, vt)}"
        }.mkString("{", ",", "}")
      case _ => jsonStr(String.valueOf(v))
    }
  }

  /** control-flow marker: a handler result that must answer 201
    * (entity creation, matching the reference's REST codes). */
  private final case class CreatedResponse(json: String,
      location: Option[String] = None)
    extends RuntimeException
  private def Created(json: String): Nothing = throw CreatedResponse(json)
  private def CreatedAt(json: String, location: String): Nothing =
    throw CreatedResponse(json, Some(location))
  /** The reference's entity DELETE answer (rest_collection_impl.h:1705). */
  private final case class NoContentResponse() extends RuntimeException
  private def NoContent(): Nothing = throw NoContentResponse()
  // a handler-chosen status + body (plugin routes: set_return's code)
  private final case class WithStatusResponse(code: Int, json: String)
    extends RuntimeException
  private def WithStatus(code: Int, json: String): Nothing =
    throw WithStatusResponse(code, json)

  /** `POST /v1/types/plugins/<lang>/routes/run` — run a one-shot
    * script (`builtin/js/js_plugin_loader.cc` handleTypeRoute /
    * python equivalent): body carries `source` (inline) or `address`
    * (file:// only — remote URLs fail the load, MLDB-251). Response
    * is the reference's ScriptOutput: `{result}` on success, 400 with
    * `{exception: {message}}` on compile/run errors (MLDB-980 pins
    * the V8 syntax-error message). */
  private def runScriptRoute(language: String, body: JsVal): String = {
    val param = ProcJson.params(body)
    val source = param("source").getOrElse {
      val addr = param("address").getOrElse(
        throw new IllegalArgumentException(
          "script config needs source or address"))
      if (addr.startsWith("http://") || addr.startsWith("https://"))
        throw new IllegalArgumentException(
          s"couldn't fetch script from '$addr': remote URL loading " +
            "is not available")
      val p = addr.stripPrefix("file://")
      val path = java.nio.file.Paths.get(
        if (p.startsWith("/")) p else p)
      if (!java.nio.file.Files.exists(path))
        throw new IllegalArgumentException(
          s"script file '$addr' not found")
      new String(java.nio.file.Files.readAllBytes(path),
        StandardCharsets.UTF_8)
    }
    def exceptionJson(message: String): Nothing =
      WithStatus(400, s"""{"exception": {"message": ${jsonStr(message)}, """ +
        s""""httpCode": 400}, "error": ${jsonStr(message)}, "httpCode": 400}""")
    language match {
      case "javascript" =>
        val program =
          try graft.js.JsInterp.compile(source)
          catch {
            case NonFatal(e) =>
              val m = String.valueOf(e.getMessage)
              exceptionJson(
                if (m.contains("unterminated string") ||
                    m.contains("unexpected character"))
                  "Uncaught SyntaxError: Invalid or unexpected token"
                else s"Uncaught SyntaxError: $m")
          }
        val result =
          try JsHost.run(engine.spark, engine.dataset, source,
            Map.empty, engine = engine, precompiled = Some(program))
          catch {
            case w: WithStatusResponse => throw w
            case NonFatal(e) =>
              exceptionJson(String.valueOf(e.getMessage))
          }
        s"""{"result": ${JsHost.resultJson(result)}}"""
      case "python" =>
        val r = PyBridge.run(engine.spark, engine.dataset, source,
          httpPort = engine.restPort)
        if (r.returnCode != 0) exceptionJson(r.stderr)
        val logs = (r.stdout.split("\n").filter(_.nonEmpty).toSeq ++ r.logs)
          .map(l => s"""{"c": ${jsonStr(l)}}""").mkString("[", ",", "]")
        s"""{"result": ${r.returnJson.getOrElse("null")}, "logs": $logs, """ +
          s""""stdout": ${jsonStr(r.stdout)}, "stderr": ${jsonStr(r.stderr)}}"""
      case other => throw new IllegalArgumentException(
        s"unknown script language '$other'")
    }
  }

  /** `GET /v1/typeInfo?type=<t>` — value-description introspection
    * (MLDB-497: `MLDB::ValueKind` is an ENUM). */
  private def typeInfoJson(t: String): String = {
    val kind = RestServer.valueKinds.getOrElse(t,
      if (t.endsWith("Config")) "STRUCTURE"
      else throw new NoSuchElementException(s"unknown type '$t'"))
    s"""{"typeName": ${jsonStr(t)}, "kind": ${jsonStr(kind)}}"""
  }

  private def handle(ex: HttpExchange)(body: => String): Unit = {
    val (code, payload) =
      try (200, body)
      catch {
        case CreatedResponse(j, loc) =>
          loc.foreach(l => ex.getResponseHeaders.set("Location", l))
          (201, j)
        case NoContentResponse() => (204, "")
        case WithStatusResponse(c, j) => (c, j)
        case e: graft.sql.OomSimulated =>
          // MLDB-1355: allocation failures carry the error again under
          // details.context.error (the reference's annotated exception)
          (400, s"""{"error": ${jsonStr(String.valueOf(e.getMessage))}, """ +
            s""""httpCode": 400, "details": {"context": {"error": ${jsonStr(
              String.valueOf(e.getMessage))}}}}""")
        case e: IllegalArgumentException => (400, errJson(e, 400))
        case e: NoSuchElementException => (404, errJson(e, 404))
        // the last resort stays Throwable, not NonFatal: any error that
        // escapes here, fatal ones included, would otherwise close the
        // connection with no response at all
        case e: Throwable => (500, errJson(e, 500))
      }
    ex.getResponseHeaders.set("Content-Type", "application/json")
    if (code == 204) ex.sendResponseHeaders(204, -1)
    else {
      val bytes = payload.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
    }
    ex.close()
  }

  /** The reference's async opt-in: an `async: true` request header
    * (MLDB-305's putAsync / {async: true} option). */
  private def isAsync(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("async")).exists(_.trim == "true")

  // every error body carries error + httpCode — the reference's
  // uniform envelope (testing/MLDB-1260-json-errors.py)
  private def errJson(e: Throwable, code: Int): String =
    s"""{"error": ${jsonStr(String.valueOf(e.getMessage))}, """ +
      s""""httpCode": $code}"""

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def queryParams(ex: HttpExchange): Map[String, String] =
    orderedParams(ex).toMap

  /** Query parameters in REQUEST ORDER with duplicates kept — the
    * reference's rest_params pair array (MLDB-444 mirrors it back). */
  private def orderedParams(ex: HttpExchange): Seq[(String, String)] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").filter(_.contains("=")).toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }
  }

  private def bodyText(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes, StandardCharsets.UTF_8)

  /** The request body, parsed once (`ProcJson.body`): routes read
    * their config from this tree, never from the raw text. */
  private def bodyJson(ex: HttpExchange): JsVal = ProcJson.body(bodyText(ex))

  /** A required param of a parsed config. */
  private def need(param: String => Option[String], k: String): String =
    param(k).getOrElse(throw new IllegalArgumentException(s"missing field $k"))

  private def elems(v: Option[JsVal]): Seq[JsVal] = v match {
    case Some(a: JsArrV) => a.elems.toSeq
    case _ => Seq.empty
  }

  /** The rows of a record body: a bare object is one row. */
  private def rowObjects(body: JsVal): Seq[JsVal] = body match {
    case o: JsObjV => Seq(o)
    case a: JsArrV => a.elems.toSeq
    case _ => Seq.empty
  }

  /** The reference's columns form, `{rowName, columns: [[col, value,
    * ts], …]}` or an array of such rows, told apart from flat rows by
    * its shape: a flat row may have a column named `columns`. */
  private def isColumnsForm(body: JsVal): Boolean = {
    val rows = rowObjects(body)
    rows.nonEmpty && rows.forall(r => ProcJson.field(r, "columns") match {
      case Some(a: JsArrV) => a.elems.forall(_.isInstanceOf[JsArrV])
      case _ => false
    })
  }

  /** A recorded cell's value as JSON. Typed-object cells (MLDB-986's
    * {"num": "NaN"} / {"num": "Inf"} / {"ts": …} forms): non-finite
    * numbers emit as bare NaN/Infinity tokens (the JSON reader accepts
    * them via allowNonNumericNumbers); other typed wrappers record
    * their inner value. */
  private def cellValue(v: JsVal): String = v match {
    case o: JsObjV =>
      Seq("num", "ts", "interval").iterator
        .flatMap(k => ProcJson.field(o, k).map(k -> _)).nextOption() match {
        case Some(("num", graft.js.JsInterp.JsStr(n))) => n match {
          case "NaN" => "NaN"
          case "Inf" | "Infinity" => "Infinity"
          case "-Inf" | "-Infinity" => "-Infinity"
          case other => other
        }
        case Some((_, inner)) => ProcJson.cell(inner)
        case None => "null"
      }
    case other => ProcJson.cell(other)
  }

  /** `[[rowName, value, ts], …]` cells of ONE column → flat row JSON
    * (`{"rowName": rn, "<col>": value}` per cell) for
    * recordColumnsJson. */
  private def columnCellsToFlat(colName: String, cells: Seq[JsVal]): String = {
    val rows = cells.collect { case c: JsArrV if c.elems.size >= 2 =>
      s"""{"rowName":${jsonStr(ProcJson.paramString(c.elems(0)))},""" +
        s"""${jsonStr(colName)}:${cellValue(c.elems(1))}}"""
    }
    require(rows.nonEmpty, "no cells in rows body")
    rows.mkString("[", ",", "]")
  }

  /** The reference's row-recording body shape → flat row objects:
    * `{"rowName": "r", "columns": [["score", 5, 6], …]}` becomes
    * `{"rowName": "r", "score": 5, "ts": "1970-01-01T00:00:06Z"}`.
    * Numeric cell timestamps are epoch SECONDS (the reference's
    * convention); the row keeps the max of its cells' timestamps as
    * its single wide-mode ts. */
  private def columnsFormToFlat(body: JsVal, quantum: Double): String = {
    import graft.js.JsInterp.{JsNum, JsStr}
    def tsInstant(v: Option[JsVal]): Option[java.time.Instant] = v match {
      case Some(JsStr(t)) => GraftEngine.lenientInstant(t)
      case Some(JsNum(secs)) =>
        Some(java.time.Instant.ofEpochMilli((secs * 1000).toLong))
      case _ => None
    }
    val rows = rowObjects(body).flatMap { r =>
      ProcJson.field(r, "rowName").map { rn =>
        val cells = elems(ProcJson.field(r, "columns")).collect {
          case c: JsArrV if c.elems.size >= 2 =>
            // record-time quantization (Date::quantize — MLDB-987)
            (ProcJson.paramString(c.elems(0)), cellValue(c.elems(1)),
              tsInstant(c.elems.lift(2))
                .map(GraftEngine.quantizeInstant(_, quantum)))
        }
        val maxTs = cells.flatMap(_._3)
          .reduceOption((a, b) => if (a.isAfter(b)) a else b)
          .map(i => jsonStr(GraftEngine.isoMinimal(i)))
        // a user cell literally named "ts" keeps its value — wide
        // mode's implicit row-ts column yields rather than duplicate
        // the name (MLDBFB-320's `SELECT ds.ts`)
        val hasUserTs = cells.exists(_._1 == "ts")
        val fields = Seq(s""""rowName":${jsonStr(ProcJson.paramString(rn))}""") ++
          cells.map { case (c, v, _) => s"${jsonStr(c)}:$v" } ++
          (if (hasUserTs) None else maxTs.map(t => s""""ts":$t"""))
        fields.mkString("{", ",", "}")
      }
    }
    require(rows.nonEmpty, "no rows in body")
    rows.mkString("[", ",", "]")
  }
}

object RestServer {
  /** TCP_NODELAY on the JDK HttpServer's sockets. Without it, small
    * keep-alive responses interleave Nagle with the peer's delayed
    * ACK and every scoring round-trip stalls ~40 ms (23 calls/s
    * instead of ~1,000). The property is read once when
    * sun.net.httpserver.ServerConfig class-loads, so it must be set
    * before the first HttpServer.create in the process. */
  private lazy val ensured: Unit = {
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
  }
  private[api] def ensureNoDelay(): Unit = ensured

  /** The per-kind type registry behind `/v1/types/<kind>`
    * (`server/mldb_server.cc` type collections) — the listing is what a
    * reference client enumerates before PUTting a config of that type.
    * Procedure types come from `GraftEngine.procedureTypes`. */
  private[api] val typeCatalog: Map[String, Seq[String]] = Map(
    "datasets" -> Seq("tabular", "sparse.mutable", "beh", "beh.mutable",
      "beh.binary", "beh.binary.mutable", "merged", "transposed",
      "sampled", "union", "embedding", "continuous", "continuous.window",
      "sqliteSparse", "text.csv.tabular", "text.line"),
    "functions" -> Seq("sql.expression", "sql.query", "classifier",
      "classifier.explain", "probabilizer", "svm", "kmeans",
      "gaussianclustering", "svd.embedRow", "tfidf", "tokensplit",
      "embedding.neighbors", "statsTable.getCounts", "posneg",
      "experimental.distTable.getStats", "pooling", "feature_hasher",
      "stemmer", "stemmerdoc", "filter_stopwords", "fetcher",
      "http.useragent", "melt", "import.word2vec.embed"),
    "plugins" -> Seq("javascript", "python", "scala"))

  /** Reference config struct name for `/v1/types/<kind>/<t>/info`,
    * derived from the type name (`svd.train` → `MLDB::SvdTrainConfig`).
    * A procedure type may pin the reference's own name instead
    * (`plugins/embedding/svd.cc` SvdConfig). */
  private[api] def configTypeName(tpe: String): String =
    "MLDB::" + tpe.split("[._]").map(_.capitalize).mkString + "Config"

  /** `/v1/typeInfo` kinds for the value descriptions the reference's
    * tests ask about (MLDB-497). */
  private[api] val valueKinds: Map[String, String] = Map(
    "std::string" -> "STRING",
    "MLDB::Utf8String" -> "STRING",
    "MLDB::ValueKind" -> "ENUM",
    "MLDB::CellValue" -> "ATOM",
    "MLDB::PolyConfig" -> "STRUCTURE",
    "float" -> "FLOAT", "double" -> "FLOAT",
    "int" -> "INTEGER", "bool" -> "BOOLEAN")
}
