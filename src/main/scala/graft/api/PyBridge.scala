package graft.api

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `script.run {language: "python"}` — out-of-process Python, the
  * reference's external-python path (`builtin/external_python_procedure
  * .cc:100-150`: spawn the interpreter on the script, capture
  * stdout/stderr, parse the LAST stdout line as JSON into `return`).
  *
  * The child gets a small prelude defining the reference's scripting
  * surface before the user source:
  *
  *   - `mldb.query(sql)` — the MLDB SQL dialect over the engine's
  *     registered datasets, returning a list of dicts (one per row,
  *     the reference's `mldb.query` shape). Implemented as a
  *     line-JSON RPC back to the JVM over a loopback socket (port in
  *     `GRAFT_PY_PORT`), so the Python process holds no Spark state.
  *   - `mldb.log(...)` — forwarded to stderr (kept out of the stdout
  *     return-value channel).
  *   - `args` — the request parameters, from `GRAFT_PY_ARGS` JSON.
  *
  * `mldb.query` materializes rows driver-side by design — identical
  * to the reference, where script queries land in the interpreter
  * heap. The same row cap as the JS host bounds it; at scale scripts
  * aggregate or LIMIT before collecting.
  *
  * Trust model: identical to the reference — scripts are engine-side
  * code supplied by the operator, not sandboxed user input.
  */
object PyBridge {

  final case class PyResult(returnJson: Option[String], stdout: String,
      stderr: String, returnCode: Int, logs: Seq[String] = Seq.empty)

  val maxQueryRows: Int = JsHost.maxQueryRows

  private val prelude = """
import json as _graft_json, os as _graft_os, socket as _graft_socket, sys as _graft_sys

class _GraftMldb(object):
    def __init__(self):
        self._f = None
        port = _graft_os.environ.get("GRAFT_PY_PORT")
        if port:
            s = _graft_socket.create_connection(("127.0.0.1", int(port)))
            self._f = s.makefile("rw", encoding="utf-8", newline="\n")
    def query(self, sql):
        if self._f is None:
            raise RuntimeError("mldb.query: no engine connection")
        self._f.write(_graft_json.dumps({"op": "query", "sql": sql}) + "\n")
        self._f.flush()
        line = self._f.readline()
        if not line:
            raise RuntimeError("mldb.query: engine closed the connection")
        resp = _graft_json.loads(line)
        if "error" in resp:
            raise RuntimeError(resp["error"])
        return resp.get("rows", [])
    def log(self, *parts):
        # the reference's log formatting (python_mldb_log): dicts and
        # lists pretty-print 4-space-indented, scalars str(), multiple
        # args join with a space
        def fmt(v):
            if isinstance(v, (dict, list)):
                return _graft_json.dumps(v, indent=4)
            return str(v)
        entry = " ".join(fmt(v) for v in parts)
        print(entry, file=_graft_sys.stderr)
        lf = _graft_os.environ.get("GRAFT_PY_LOG")
        if lf:
            with open(lf, "a", encoding="utf-8") as f:
                f.write(_graft_json.dumps(entry) + "\n")
    def perform(self, verb, path, params=None, payload=None):
        # full REST round-trip back into the serving engine
        # (`mldb.perform` — MLDB-538 route sub-requests); returns the
        # reference's {statusCode, response} shape with .json()
        port = _graft_os.environ.get("GRAFT_PY_HTTP_PORT")
        if not port:
            raise RuntimeError("mldb.perform: no REST server is serving "
                               "this engine")
        import urllib.request as _rq, urllib.parse as _p, urllib.error as _e
        url = "http://127.0.0.1:" + port + path
        if params:
            url += "?" + _p.urlencode([(k, v) for k, v in params])
        data = None
        if payload is not None:
            data = _graft_json.dumps(payload).encode("utf-8")
        req = _rq.Request(url, data=data, method=verb)
        req.add_header("Content-Type", "application/json")
        try:
            with _rq.urlopen(req) as resp:
                body = resp.read().decode("utf-8")
                code = resp.status
        except _e.HTTPError as err:
            body = err.read().decode("utf-8")
            code = err.code
        out = {"statusCode": code, "response": body}
        return out
    def get(self, path, params=None):
        return self.perform("GET", path, params)
    def post(self, path, payload=None):
        return self.perform("POST", path, None, payload)
    def put(self, path, payload=None):
        return self.perform("PUT", path, None, payload)
    def delete(self, path):
        return self.perform("DELETE", path)

mldb = _GraftMldb()
args = _graft_json.loads(_graft_os.environ.get("GRAFT_PY_ARGS", "{}"))

# reference scripts spell `from mldb import mldb` — register a module
# alias so both the bare global and the import work
import types as _graft_types
_graft_mod = _graft_types.ModuleType("mldb")
_graft_mod.mldb = mldb
_graft_sys.modules["mldb"] = _graft_mod

class _GraftNS(object):
    pass

# the reference's script surface: mldb.script.args (the function
# application's argument tuples) and request.set_return
mldb.script = _GraftNS()
mldb.script.args = _graft_json.loads(
    _graft_os.environ.get("GRAFT_PY_SCRIPT_ARGS", "null"))

class _GraftRequest(object):
    def __init__(self):
        self._rtn = None
        self._code = None
        self._called = False
        req = _graft_os.environ.get("GRAFT_PY_REQUEST")
        self._route_mode = req is not None
        if req:
            r = _graft_json.loads(req)
            self.verb = r.get("verb")
            self.remaining = r.get("remaining")
            self.rest_params = r.get("rest_params", [])
            self.payload = r.get("payload")
    def set_return(self, v, code=None):
        self._rtn = v
        self._code = code
        self._called = True

request = _GraftRequest()

# `mldb.plugin.set_request_handler` (plugin_delete_test's source-form
# python plugins): the registered handler answers the route when the
# script itself never calls request.set_return
class _GraftPluginNS(object):
    def __init__(self):
        self._handler = None
    def set_request_handler(self, f):
        self._handler = f

mldb.plugin = _GraftPluginNS()

import atexit as _graft_atexit
def _graft_flush_return():
    if request._route_mode:
        # route handlers: wrap value + HTTP code; not calling
        # set_return at all is detected JVM-side (no last-line JSON)
        if not request._called and mldb.plugin._handler is not None:
            v = mldb.plugin._handler(
                mldb, request.remaining, request.verb, request.remaining,
                request.rest_params, request.payload, "application/json",
                len(request.payload or ""), [])
            request.set_return(v, 200)
        if request._called:
            print(_graft_json.dumps(
                {"code": request._code if request._code is not None else 200,
                 "value": request._rtn}, separators=(",", ":")))
    elif request._rtn is not None:
        print(_graft_json.dumps(request._rtn))
_graft_atexit.register(_graft_flush_return)
del _GraftMldb
"""

  /** One log-file line (a JSON string literal) → the entry text. */
  private def parseLogLine(l: String): Option[String] = {
    val t = l.trim
    if (!t.startsWith("\"")) None
    else scala.util.Try {
      graft.js.JsInterp.jsonParse(t) match {
        case graft.js.JsInterp.JsStr(s) => s
        case _ => t
      }
    }.toOption
  }

  /** JSON-escape a string (minimal, for building responses). */
  def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Serve `mldb.query` requests from the child until EOF. One client,
    * sequential requests — a script is single-threaded like the
    * reference's interpreter. */
  private def serve(server: ServerSocket, spark: SparkSession,
      tables: String => DataFrame): Thread = {
    val t = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new BufferedReader(new InputStreamReader(
          sock.getInputStream, StandardCharsets.UTF_8))
        val out = new BufferedWriter(new OutputStreamWriter(
          sock.getOutputStream, StandardCharsets.UTF_8))
        var line = in.readLine()
        while (line != null) {
          val resp =
            try {
              // only {"op":"query","sql":...} exists today; parse with
              // the flat-row parser (the request IS a flat object)
              val (schema, row) = JsonRow.parseFlat(line)
              val sql = row.getString(schema.fieldIndex("sql"))
              val df = graft.sql.GraftSql.queryTables(spark, tables, sql)
              val rows = df.limit(maxQueryRows + 1).toJSON.collect()
              if (rows.length > maxQueryRows)
                s"""{"error": ${jstr(s"mldb.query returned more than $maxQueryRows rows; add a LIMIT or aggregate before collecting into the script")}}"""
              else rows.mkString("{\"rows\": [", ", ", "]}")
            } catch {
              // the script sees why its query failed; a message-less
              // error still names its class
              case NonFatal(e) =>
                s"""{"error": ${jstr(Option(e.getMessage).getOrElse(e.toString))}}"""
            }
          out.write(resp)
          out.write("\n")
          out.flush()
          line = in.readLine()
        }
        sock.close()
      } catch { case NonFatal(_) => () /* child exited without connecting */ }
    })
    t.setDaemon(true)
    t.start()
    t
  }

  /** Run a Python script with the `mldb`/`args` surface.
    * `scriptArgsJson` lands verbatim as `mldb.script.args` (the
    * script.apply function surface — MLDB-643's tuple form). */
  def run(spark: SparkSession, tables: String => DataFrame, source: String,
      args: Map[String, String] = Map.empty,
      pythonExecutable: String = "python3",
      timeoutSec: Long = 600,
      scriptArgsJson: Option[String] = None,
      requestJson: Option[String] = None,
      stdinData: Option[String] = None,
      httpPort: Option[Int] = None): PyResult = {
    val script = Files.createTempFile("graft_py", ".py")
    Files.write(script, (prelude + "\n" + source).getBytes(StandardCharsets.UTF_8))
    // mldb.log entries land here as one JSON string per line — the
    // run's ScriptOutput logs (python_mldb_log pins the formatting)
    val logFile = Files.createTempFile("graft_py_log", ".jsonl")
    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    try {
      serve(server, spark, tables)
      val pb = new ProcessBuilder(pythonExecutable, script.toString)
      pb.environment().put("GRAFT_PY_PORT", server.getLocalPort.toString)
      pb.environment().put("GRAFT_PY_ARGS",
        args.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
          .mkString("{", ", ", "}"))
      scriptArgsJson.foreach(j =>
        pb.environment().put("GRAFT_PY_SCRIPT_ARGS", j))
      requestJson.foreach(j =>
        pb.environment().put("GRAFT_PY_REQUEST", j))
      httpPort.foreach(p =>
        pb.environment().put("GRAFT_PY_HTTP_PORT", p.toString))
      pb.environment().put("GRAFT_PY_LOG", logFile.toString)
      val proc = pb.start()
      // stdInData pipes to the child before EOF (the reference's
      // experimental.external.procedure — MLDB-694)
      stdinData.foreach(d =>
        proc.getOutputStream.write(d.getBytes(StandardCharsets.UTF_8)))
      proc.getOutputStream.close()
      // drain both pipes concurrently — a chatty script would deadlock
      // a sequential read on a full pipe buffer
      def drain(is: java.io.InputStream): java.util.concurrent.Future[String] =
        java.util.concurrent.Executors.newSingleThreadExecutor(r => {
          val t = new Thread(r); t.setDaemon(true); t
        }).submit(() => new String(is.readAllBytes(), StandardCharsets.UTF_8))
      val outF = drain(proc.getInputStream)
      val errF = drain(proc.getErrorStream)
      if (!proc.waitFor(timeoutSec, TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        throw new IllegalStateException(
          s"python script exceeded ${timeoutSec}s and was killed")
      }
      val rawOut = outF.get()
      val stderr = errF.get()
      val rc = proc.exitValue()
      // reference behavior: strip the trailing newline, then if the
      // LAST stdout line parses as JSON it becomes `return` and is
      // removed from `stdout`
      val trimmed =
        if (rawOut.endsWith("\n")) rawOut.dropRight(1) else rawOut
      val cut = trimmed.lastIndexOf('\n')
      val (head, last) =
        if (cut < 0) ("", trimmed) else (trimmed.substring(0, cut), trimmed.substring(cut + 1))
      val logs = scala.util.Try {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(logFile, StandardCharsets.UTF_8).asScala.toSeq
          .flatMap(l => parseLogLine(l))
      }.getOrElse(Seq.empty)
      parseJsonOpt(last) match {
        case Some(j) => PyResult(Some(j), head, stderr, rc, logs)
        case None => PyResult(None, trimmed, stderr, rc, logs)
      }
    } finally {
      server.close()
      Files.deleteIfExists(script)
      Files.deleteIfExists(logFile)
    }
  }

  /** Validate that `s` is a standalone JSON value; return it verbatim. */
  private def parseJsonOpt(s: String): Option[String] = {
    val t = s.trim
    if (t.nonEmpty && scala.util.Try(graft.js.JsInterp.jsonParse(t)).isSuccess)
      Some(t)
    else None
  }

  /** The REST response shape (`external_python_procedure.cc:125-147`):
    * `return` (last-line JSON), `stdout`, `stderr`, `runResult`. */
  def resultJson(r: PyResult): String =
    s"""{"return": ${r.returnJson.getOrElse("null")}, "stdout": ${jstr(r.stdout)}, "stderr": ${jstr(r.stderr)}, "runResult": {"returnCode": ${r.returnCode}}}"""
}
