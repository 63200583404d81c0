package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

import graft.js.{JsAst, JsInterp}
import graft.js.JsInterp._

/** Host bindings for engine-side JavaScript — the reference's native
  * plugin/scripting language (`builtin/js/js_plugin_loader.cc`,
  * `builtin/script_procedure.cc`). A script runs with:
  *
  *   - `args`: the request parameters as a JS object (strings),
  *   - `mldb.query(sql)`: the MLDB SQL dialect over the engine's
  *     registered datasets, returning an ARRAY OF OBJECTS (one per
  *     row) — the reference's `mldb.query` shape,
  *   - `mldb.log(...)`: accepted and discarded (results are values,
  *     not logs).
  *
  * `mldb.query` collects driver-side by design — identical to the
  * reference, where plugin JS runs in the server process and a query
  * result is materialized into the V8 heap. The row cap bounds that
  * materialization; datasets at scale stay in Spark and scripts page
  * through them with LIMIT/OFFSET or aggregate before collecting.
  */
object JsHost {

  val maxQueryRows = 100000

  /** External (Row-land) Scala value → JS value. */
  def fromAny(v: Any): JsVal = v match {
    case null => JsNull
    case s: String => JsStr(s)
    case b: Boolean => JsBool(b)
    case n: Byte => JsNum(n.toDouble)
    case n: Short => JsNum(n.toDouble)
    case n: Int => JsNum(n.toDouble)
    case n: Long => JsNum(n.toDouble)
    case n: Float => JsNum(n.toDouble)
    case n: Double => JsNum(n)
    case n: BigDecimal => JsNum(n.toDouble)
    case n: java.math.BigDecimal => JsNum(n.doubleValue())
    case t: java.sql.Timestamp => JsNum(t.getTime.toDouble)
    case t: java.time.Instant => JsNum(t.toEpochMilli.toDouble)
    case t: java.time.LocalDateTime =>
      JsNum(t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toDouble)
    case d: java.sql.Date => JsNum(d.getTime.toDouble)
    case d: java.time.LocalDate =>
      JsNum(d.toEpochDay.toDouble * 86400000.0)
    case bytes: Array[Byte] =>
      new JsArrV(mutable.ArrayBuffer.from(
        bytes.map(b => JsNum((b & 0xFF).toDouble): JsVal)))
    case arr: Array[_] =>
      new JsArrV(mutable.ArrayBuffer.from(arr.map(fromAny)))
    case seq: Seq[_] =>
      new JsArrV(mutable.ArrayBuffer.from(seq.map(fromAny)))
    case m: Map[_, _] =>
      val o = mutable.LinkedHashMap.empty[String, JsVal]
      m.foreach { case (k, v2) => o(String.valueOf(k)) = fromAny(v2) }
      new JsObjV(o)
    case r: Row =>
      val o = mutable.LinkedHashMap.empty[String, JsVal]
      r.schema.fieldNames.zipWithIndex.foreach { case (n, i) =>
        o(n) = fromAny(r.get(i))
      }
      new JsObjV(o)
    case other => JsStr(other.toString)
  }

  def rowsToJs(df: DataFrame): JsVal = {
    val rows = df.limit(maxQueryRows + 1).collect()
    if (rows.length > maxQueryRows)
      JsInterp.error(
        s"mldb.query returned more than $maxQueryRows rows; " +
          "add a LIMIT or aggregate before collecting into the script")
    new JsArrV(mutable.ArrayBuffer.from(rows.map(fromAny(_): JsVal)))
  }

  /** The `mldb` host object over a dataset resolver. With an engine,
    * the reference's plugin-script surface grows to `createDataset`
    * (returning a dataset handle with `recordRow`/`commit` —
    * `builtin/js/dataset_js.cc`), `openStream` (gz-aware line reader —
    * `builtin/js/mldb_js.cc:360`), and `get('/v1/query', {q, format})`.
    * Recorded rows buffer driver-side and flush as ONE recordRows JSON
    * payload at commit — a script's row loop is configuration-sized by
    * the same argument as the reference, whose JS runs in-process. */
  def mldbObject(spark: SparkSession,
      tables: String => DataFrame,
      engine: GraftEngine = null): JsObjV = {
    val o = mutable.LinkedHashMap.empty[String, JsVal]
    o("query") = new JsNativeV("query", (_, as) => {
      val sql = toStr(as.headOption.getOrElse(JsUndef))
      rowsToJs(graft.sql.GraftSql.queryTables(spark, tables, sql))
    })
    o("log") = new JsNativeV("log", (_, _) => JsUndef)
    if (engine != null) {
      o("createDataset") = new JsNativeV("createDataset", (_, as) => {
        val cfg = as.headOption.getOrElse(JsInterp.error(
          "createDataset needs a config object"))
        val cfgObj = cfg match {
          case ob: JsObjV => ob
          case _ => JsInterp.error("createDataset needs a config object")
        }
        val id = cfgObj.fields.get("id") match {
          case Some(JsStr(s)) => s
          case _ => "auto_" + java.util.UUID.randomUUID().toString
            .replace("-", "").take(12)
        }
        // typed creation routes through the dataset-type registry
        // (sqliteSparse / continuous / merged …) with the config's
        // params read like every other config's
        engine.createDatasetTyped(id, ProcJson.str(cfgObj, "type")
          .getOrElse(""), ProcJson.params(cfgObj))
        val buffered =
          mutable.ArrayBuffer.empty[(String, Seq[(String, JsVal)])]
        def flush(): Unit = {
          if (buffered.nonEmpty) {
            val json = buffered.map { case (rn, cells) =>
              (Seq("\"rowName\": " + ProcJson.cell(JsStr(rn))) ++ cells.map {
                case (c, v) => ProcJson.cell(JsStr(c)) + ": " + ProcJson.cell(v)
              }).mkString("{", ", ", "}")
            }.mkString("[", ",", "]")
            engine.recordRows(id, json)
            buffered.clear()
          }
        }
        def cellsOf(v: JsVal): Seq[(String, JsVal)] = v match {
          case a: JsArrV => a.elems.toSeq.collect {
            case t: JsArrV if t.elems.nonEmpty =>
              // [column, value, ts] — wide mode drops the cell ts
              toStr(t.elems(0)) -> t.elems.lift(1).getOrElse(JsNull)
          }
          case _ => Seq.empty
        }
        val ds = mutable.LinkedHashMap.empty[String, JsVal]
        ds("recordRow") = new JsNativeV("recordRow", (_, rs) => {
          buffered += ((toStr(rs.headOption.getOrElse(JsUndef)),
            cellsOf(rs.lift(1).getOrElse(JsUndef))))
          JsUndef
        })
        ds("recordRows") = new JsNativeV("recordRows", (_, rs) => {
          rs.headOption match {
            case Some(a: JsArrV) => a.elems.foreach {
              case pair: JsArrV if pair.elems.nonEmpty =>
                buffered += ((toStr(pair.elems(0)),
                  cellsOf(pair.elems.lift(1).getOrElse(JsUndef))))
              case _ => ()
            }
            case _ => ()
          }
          JsUndef
        })
        ds("commit") = new JsNativeV("commit", (_, _) => {
          flush()
          engine.commitDataset(id)
          JsUndef
        })
        ds("status") = new JsNativeV("status", (_, _) => {
          flush()
          val df = engine.dataset(id)
          val st = mutable.LinkedHashMap.empty[String, JsVal]
          st("rowCount") = JsNum(scala.util.Try(df.count())
            .getOrElse(0L).toDouble)
          st("columnCount") = JsNum(df.columns.length.toDouble)
          new JsObjV(st)
        })
        new JsObjV(ds)
      })
      o("ls") = new JsNativeV("ls", (_, as) => {
        // `mldb.ls` (`builtin/js/mldb_js.cc`): directory/archive
        // listing as {objects: {uri: {exists: true}}} (MLDB-900 reads
        // archive members out of `objects`)
        val url = toStr(as.headOption.getOrElse(JsUndef))
        val objects = mutable.LinkedHashMap.empty[String, JsVal]
        val uris =
          if (graft.sources.Sources.isArchiveUrl(url))
            graft.sources.Sources.listArchive(url)
          else {
            val dir = java.nio.file.Paths.get(url.stripPrefix("file://"))
            if (!java.nio.file.Files.isDirectory(dir))
              JsInterp.error(s"ls: '$url' is not a directory or archive")
            val s = java.nio.file.Files.list(dir)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala.map(p => s"file://$p").toList
            } finally s.close()
          }
        uris.foreach { u =>
          objects(u) = new JsObjV(mutable.LinkedHashMap(
            "exists" -> (JsBool(true): JsVal)))
        }
        new JsObjV(mutable.LinkedHashMap(
          "objects" -> (new JsObjV(objects): JsVal)))
      })
      o("openStream") = new JsNativeV("openStream", (_, as) => {
        val url = toStr(as.headOption.getOrElse(JsUndef))
        val path =
          if (graft.sources.Sources.isArchiveUrl(url))
            graft.sources.Sources.resolveArchiveMember(url)
          else url.stripPrefix("file://")
        val base: java.io.InputStream = new java.io.FileInputStream(path)
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          if (path.endsWith(".gz")) new java.util.zip.GZIPInputStream(base)
          else base, java.nio.charset.StandardCharsets.UTF_8))
        var nextLine: String = in.readLine()
        val st = mutable.LinkedHashMap.empty[String, JsVal]
        st("readLine") = new JsNativeV("readLine", (_, _) => {
          val l = nextLine
          if (l == null) JsInterp.error("readLine past end of stream")
          nextLine = in.readLine()
          if (nextLine == null) in.close()
          JsStr(l)
        })
        st("eof") = new JsNativeV("eof", (_, _) => JsBool(nextLine == null))
        new JsObjV(st)
      })
      o("createFunction") = new JsNativeV("createFunction", (_, as) => {
        // `builtin/js/function_js.cc`: create a function entity from a
        // config object and return a handle whose `callJson(row)`
        // applies it to one JSON-shaped input row (MLDB-2022's
        // predictfn). sql.expression configs lower to the same macro
        // registration as the REST route.
        val cfg = as.headOption match {
          case Some(ob: JsObjV) => ob
          case _ => JsInterp.error("createFunction needs a config object")
        }
        val id = cfg.fields.get("id") match {
          case Some(JsStr(s)) => s
          case _ => "auto_" + java.util.UUID.randomUUID().toString
            .replace("-", "").take(12)
        }
        val param = ProcJson.params(cfg)
        cfg.fields.get("type") match {
          case Some(JsStr("sql.expression")) =>
            val expr = param("expression").getOrElse(
              JsInterp.error("sql.expression needs params.expression"))
            engine.createSqlExpressionFunction(id, expr,
              raw = param("raw").contains("true"),
              autoInput = param("autoInput").contains("true"))
          case Some(JsStr(other)) => JsInterp.error(
            s"createFunction: unsupported in-script type '$other'")
          case _ => JsInterp.error("createFunction needs a type")
        }
        val declaredType = cfg.fields.get("type") match {
          case Some(JsStr(t)) => t
          case _ => ""
        }
        val h = mutable.LinkedHashMap.empty[String, JsVal]
        h("callJson") = new JsNativeV("callJson", (_, cas) => {
          val json = jsonStringify(cas.headOption.getOrElse(JsUndef))
            .getOrElse("null")
          val (schema, rows) = engine.applyFunctionJsonRows(id, json)
          rowToJs(schema, rows.head)
        })
        h("type") = new JsNativeV("type", (_, _) => JsStr(declaredType))
        h("call") = new JsNativeV("call", (_, cas) => {
          // `function_js.cc` call(): the reference's expression-value
          // pair format — [[ [column, [value, ts]], … ], ts]; a
          // literal-valued result with no input timestamp renders its
          // ts as -Inf (MLDB-1192 asserts res[0][0] ==
          // ["y", [100, "-Inf"]])
          val json = jsonStringify(cas.headOption.getOrElse(JsUndef))
            .getOrElse("null")
          val (schema, rows) = engine.applyFunctionJsonRows(id, json)
          val r = rows.head
          val pairs = new JsArrV(mutable.ArrayBuffer.from(
            schema.fields.zipWithIndex.map { case (f, i) =>
              val v: JsVal =
                if (r.isNullAt(i)) JsNull else fromAny(r.get(i))
              new JsArrV(mutable.ArrayBuffer(
                JsStr(f.name): JsVal,
                new JsArrV(mutable.ArrayBuffer(v,
                  JsStr("-Inf"): JsVal)): JsVal)): JsVal
            }))
          new JsArrV(mutable.ArrayBuffer(pairs: JsVal,
            JsStr("-Inf"): JsVal))
        })
        new JsObjV(h)
      })
      o("createProcedure") = new JsNativeV("createProcedure", (_, as) => {
        // `builtin/js/procedure_js.cc`: create a procedure entity from
        // a {type, params} config; the handle runs it (MLDB-1192's
        // null-procedure run returns the empty run output)
        val cfg = as.headOption match {
          case Some(ob: JsObjV) => ob
          case _ => JsInterp.error("createProcedure needs a config object")
        }
        val tpe = cfg.fields.get("type") match {
          case Some(JsStr(t)) => t
          case _ => JsInterp.error("createProcedure needs a type")
        }
        val h = mutable.LinkedHashMap.empty[String, JsVal]
        h("type") = new JsNativeV("type", (_, _) => JsStr(tpe))
        h("run") = new JsNativeV("run", (_, ras) => {
          // the run's own params take precedence over the config's
          val res = engine.runProcedure(tpe, ProcJson.lookup(
            ras.headOption.getOrElse(JsNull), cfg), ProcJson.str(cfg, "id"))
          // the run OUTPUT: a bare done-status is the reference's
          // empty run details
          if (res.replaceAll("\\s", "") == """{"status":"done"}""")
            new JsObjV(mutable.LinkedHashMap.empty[String, JsVal])
          else JsInterp.jsonParse(res)
        })
        new JsObjV(h)
      })
      o("get") = new JsNativeV("get", (_, as) => {
        val path = toStr(as.headOption.getOrElse(JsUndef))
        if (path != "/v1/query") JsInterp.error(
          s"mldb.get: only /v1/query is routable in-script (got $path)")
        val params = as.lift(1) match {
          case Some(ob: JsObjV) => ob.fields
          case _ => mutable.LinkedHashMap.empty[String, JsVal]
        }
        val sql = params.get("q").map(toStr).getOrElse(
          JsInterp.error("mldb.get /v1/query needs q"))
        val res = mutable.LinkedHashMap.empty[String, JsVal]
        res("responseCode") = JsNum(200)
        res("json") = rowsToJs(engine.query(sql))
        new JsObjV(res)
      })
    }
    new JsObjV(o)
  }

  /** A typed output row as a JS object — schema-driven (the rows off
    * the compiled-apply path carry no Row.schema). */
  def rowToJs(schema: org.apache.spark.sql.types.StructType,
      r: Row): JsVal = {
    val o = mutable.LinkedHashMap.empty[String, JsVal]
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      o(f.name) = (f.dataType, if (r.isNullAt(i)) null else r.get(i)) match {
        case (st: org.apache.spark.sql.types.StructType, sr: Row) =>
          rowToJs(st, sr)
        case (_, v) => fromAny(v)
      }
    }
    new JsObjV(o)
  }

  /** Load a JS PLUGIN: run its program once with the plugin-lifecycle
    * globals and return the request handler it registered through
    * `plugin.setRequestHandler`, if any (`builtin/js/
    * js_plugin_loader.cc` — the script body is the plugin's
    * constructor). */
  def loadPlugin(spark: SparkSession, tables: String => DataFrame,
      source: String, engine: GraftEngine): Option[JsVal] =
    loadPluginFull(spark, tables, source, engine)._1

  /** Full plugin load: (requestHandler, statusHandler) — the
    * reference's plugin lifecycle registers either or both
    * (`builtin/js/js_plugin_loader.cc`; mldb_js_plugin_statusexc
    * exercises a throwing status handler). */
  def loadPluginFull(spark: SparkSession, tables: String => DataFrame,
      source: String, engine: GraftEngine)
      : (Option[JsVal], Option[JsVal]) = {
    var handler: Option[JsVal] = None
    var statusHandler: Option[JsVal] = None
    val pluginObj = new JsObjV(mutable.LinkedHashMap(
      "log" -> (new JsNativeV("log", (_, _) => JsUndef): JsVal),
      "setRequestHandler" -> (new JsNativeV("setRequestHandler", (_, as) => {
        handler = as.headOption
        JsUndef
      }): JsVal),
      "setStatusHandler" -> (new JsNativeV("setStatusHandler", (_, as) => {
        statusHandler = as.headOption
        JsUndef
      }): JsVal)))
    JsInterp.run(JsInterp.compile(source), Nil, Nil,
      extraGlobals = Map(
        "mldb" -> mldbObject(spark, tables, engine),
        "plugin" -> pluginObj))
    (handler, statusHandler)
  }

  /** Run an engine-side JS script: returns the script's result (its
    * `return` value or last expression). With an engine, the script
    * also sees the dataset-creation surface and the reference's
    * `plugin.log` global. */
  def run(spark: SparkSession, tables: String => DataFrame,
      source: String, params: Map[String, String],
      engine: GraftEngine = null,
      logSink: mutable.ArrayBuffer[String] = null,
      pluginArgs: Option[JsVal] = None,
      precompiled: Option[List[JsAst.Stmt]] = None): JsVal = {
    val argsObj = new JsObjV(mutable.LinkedHashMap.from(
      params.map { case (k, v) => k -> (JsStr(v): JsVal) }))
    // mldb.log / plugin.log append to the sink when one is given —
    // script.run surfaces them as the run details' `logs` entries
    // (MLDB-642 asserts logs[i].c)
    val logFn: JsVal = new JsNativeV("log", (_, as) => {
      if (logSink != null)
        logSink += as.map(a => a match {
          case JsStr(s) => s
          case other => jsonStringify(other).getOrElse(toStr(other))
        }).mkString(" ")
      JsUndef
    })
    val pluginFields = mutable.LinkedHashMap("log" -> logFn)
    pluginArgs.foreach(a => pluginFields("args") = a)
    val pluginObj = new JsObjV(pluginFields)
    val mldb = mldbObject(spark, tables, engine)
    mldb.fields("log") = logFn
    JsInterp.run(precompiled.getOrElse(JsInterp.compile(source)), Nil, Nil,
      extraGlobals = Map(
        "mldb" -> mldb,
        "plugin" -> pluginObj,
        "args" -> argsObj))
  }

  /** JS value → the JSON the REST layer returns. */
  def resultJson(v: JsVal): String = jsonStringify(v).getOrElse("null")
}
