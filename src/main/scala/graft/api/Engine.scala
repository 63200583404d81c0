package graft.api

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine façade: MLDB's entity model (datasets, procedures,
  * functions — `/root/reference/core/mldb_entity.h`, REST surface
  * `server/mldb_server.cc:209-228`) as an in-process registry. The
  * REST layer itself is out of scope for this library round; every
  * `/v1/...` operation has a direct method equivalent here, so a thin
  * HTTP shim could be layered on without re-architecting (SURVEY §7.1).
  */
/** JSON already rendered by a handler — the REST layer passes it
  * through verbatim instead of re-quoting it as a string. */
final case class RawJson(json: String)

final class GraftEngine(val spark: SparkSession) {

  // engine sessions always run with the dialect's semantics: ANSI off
  // (wrapping hash arithmetic), UTC, nanos-tolerant parquet reads —
  // without this, registering a TIMESTAMP(NANOS) parquet (e.g. the
  // events table) throws PARQUET_TYPE_ILLEGAL.
  graft.core.Tables.tune(spark)
  // native expressions callable from sparkSql interop
  graft.plans.GraftSqlFunctions.registerAll(spark)

  // ---- datasets (/v1/datasets) --------------------------------------------

  private val datasets = TrieMap[String, DataFrame]()

  def createDataset(name: String, df: DataFrame): Unit = {
    immutableDatasets -= name
    datasets(name) = df
  }

  /** Typed virtual-dataset creation — the reference's
    * `PUT /v1/datasets {type, params}` config model for the derived
    * dataset types (`builtin/{merged,sampled,transposed,union,sub}_
    * dataset.cc`). Mutable base types register an empty frame that
    * `recordRows` then widens; derived types are immutable (the
    * reference 400s on insertion — MLDB-1242). */
  private val immutableDatasets = scala.collection.mutable.Set[String]()

  def createDatasetTyped(name: String, tpe: String,
      param: String => Option[String]): Unit = {
    def req(k: String): String = param(k).getOrElse(
      throw new IllegalArgumentException(s"dataset type '$tpe' needs param '$k'"))
    def ids(k: String): Seq[String] = req(k)
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq
    import org.apache.spark.sql.functions._
    tpe match {
      case "sparse.mutable" | "tabular" | "" | "embedding" |
          "beh.binary.mutable" | "beh.mutable" =>
        // Re-creating a formerly derived name as a mutable type lifts
        // the immutability mark — otherwise recordRows would reject a
        // dataset that is now genuinely mutable.
        immutableDatasets -= name
        // recorded cell timestamps quantize (`types/date.cc:437`
        // Date::quantize; MLDB-987): default 1 s, sub-second quanta
        // ROUND the fraction, multi-second quanta FLOOR whole seconds
        datasetQuantum(name) =
          param("timeQuantumSeconds").map(_.toDouble).getOrElse(1.0)
        // beh files live at a dataFileUrl; the reference rejects a
        // url without a protocol (MLDB-696)
        if (tpe.startsWith("beh")) param("dataFileUrl").foreach { u =>
          if (!u.contains("://")) throw new IllegalArgumentException(
            s"dataFileUrl '$u' has no protocol (file:// expected)")
          behBacked(name) = (u.stripPrefix("file://"),
            tpe.stripSuffix(".mutable"))
        }
        if (!datasets.contains(name)) datasets(name) = spark.emptyDataFrame
        return
      case "beh" | "beh.binary" =>
        // immutable beh reader: reload a committed beh.mutable
        // snapshot by url (MLDB-1254's save → reload cycle). The file
        // carries its beh type — loading under the other type is the
        // reference's error (beh_type_check_on_load_test)
        val u = req("dataFileUrl")
        if (!u.contains("://")) throw new IllegalArgumentException(
          s"dataFileUrl '$u' has no protocol (file:// expected)")
        val path = u.stripPrefix("file://")
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
          throw new IllegalArgumentException(
            s"beh file '$u' does not exist")
        val marker = java.nio.file.Paths.get(path, "_graft_beh_type")
        if (java.nio.file.Files.exists(marker)) {
          val stored = new String(java.nio.file.Files.readAllBytes(marker),
            java.nio.charset.StandardCharsets.UTF_8).trim
          if (stored != tpe) throw new IllegalArgumentException(
            s"The loaded dataset is not of type $tpe")
        }
        datasets(name) = spark.read.parquet(path)
        immutableDatasets += name
        return
      case "sqliteSparse" =>
        // `sqliteSparse` (`plugins/sqlite/sqlite_dataset.cc`;
        // MLDB-574): a mutable dataset persisted to a SQLite file in
        // the reference's rows/cols/vals layout — commit writes the
        // file (Sqlite.writeSparse), creation over an EXISTING file
        // loads it back (EAV → wide pivot)
        immutableDatasets -= name
        val path = req("dataFileUrl").stripPrefix("file://")
        sqliteBacked(name) = path
        datasets(name) =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
            sqliteSparseWide(path)
          else spark.emptyDataFrame
        return
      case "continuous" =>
        // `continuous` (`builtin/continuous_dataset.cc`; MLDB-825): a
        // mutable recording head whose saves rotate into immutable
        // storage datasets tracked by a metadata dataset. Wide-mode
        // analog: POST <name>/routes/saves snapshots the current rows
        // to parquet and records {uri, earliest, latest, rowCount} in
        // the metadata dataset, then resets the head.
        immutableDatasets -= name
        val metaId = param("metadataDataset").getOrElse(s"$name-metadata")
        continuousCfg(name) = metaId
        immutableDatasets -= metaId
        if (!datasets.contains(metaId)) datasets(metaId) = spark.emptyDataFrame
        if (!datasets.contains(name)) datasets(name) = spark.emptyDataFrame
        return
      case "continuous.window" =>
        // `continuous.window` (`builtin/continuous_dataset.cc:448`):
        // an immutable view over the saves whose [earliest, latest]
        // overlaps [from, to] — partition pruning over snapshot files
        val metaId = req("metadataDataset")
        val from = param("from")
        val to = param("to")
        val meta = dataset(metaId)
        val fields = meta.schema.fieldNames
        def f(r: org.apache.spark.sql.Row, n: String): Option[String] = {
          val i = fields.indexWhere(_.equalsIgnoreCase(n))
          if (i < 0 || r.isNullAt(i)) None else Some(String.valueOf(r.get(i)))
        }
        // boundary strings arrive in two formats — the save metadata
        // holds Spark cast-to-string ('yyyy-MM-dd HH:mm:ss', UTC
        // sessions) while window configs use ISO 'yyyy-MM-ddTHH:mm:ssZ'
        // — so a lexical compare would order ' ' before 'T' and skip
        // same-day saves; normalize both to instants (string compare
        // only as the last resort for unparseable values)
        def le(a: String, b: String): Boolean =
          (GraftEngine.lenientInstant(a), GraftEngine.lenientInstant(b)) match {
            case (Some(x), Some(y)) => !x.isAfter(y)
            case _ => a <= b
          }
        // metadata is save-count-sized: one row per rotation
        val saves = meta.collect().toSeq.filter { r =>
          val e = f(r, "earliest"); val l = f(r, "latest")
          from.forall(fr => l.forall(lv => le(fr, lv))) &&
            to.forall(t => e.forall(ev => le(ev, t)))
        }.flatMap(r => f(r, "uri"))
        val frames = saves.map(u =>
          spark.read.parquet(u.stripPrefix("file://")))
        datasets(name) =
          if (frames.isEmpty) spark.emptyDataFrame
          else frames.reduce(_.unionByName(_, allowMissingColumns = true))
      case "merged" =>
        // creation-time validation (mldb_merged_dataset_test): an
        // empty list and a non-existent constituent both 400
        val members = ids("datasets")
        require(members.nonEmpty,
          "merged dataset requires at least one dataset")
        val frames = members.map(d =>
          try dataset(d)
          catch { case _: NoSuchElementException =>
            throw new IllegalArgumentException(s"dataset '$d' not found")
          })
        datasets(name) = frames
          .reduce(graft.operators.Reshape.merge(_, _, "rowName"))
      case "union" =>
        // the reference's union dataset prefixes each constituent's
        // row names with its index — `0.row1`, `1.row1`
        // (union_dataset_test; `plugins/union_dataset.cc`)
        datasets(name) = ids("datasets").map(dataset).zipWithIndex.map {
          case (df, i) =>
            if (df.columns.exists(_.equalsIgnoreCase("rowName")))
              df.withColumn("rowName",
                org.apache.spark.sql.functions.concat(
                  org.apache.spark.sql.functions.lit(s"$i."),
                  df.col("rowName")))
            else df
        }.reduce(_.unionByName(_, allowMissingColumns = true))
      case "transposed" =>
        // params.dataset may be an id, an {id} reference, or a NESTED
        // typed config ({type: "transposed", params: {dataset: …}} —
        // MLDB-494's double transposition): nested configs create an
        // anonymous dataset recursively, then transpose it
        val d = req("dataset").trim
        val baseName =
          if (!d.startsWith("{")) d
          else {
            import graft.js.JsInterp._
            val cfg = ProcJson.parse(d)
            (ProcJson.field(cfg, "type"), ProcJson.field(cfg, "id")) match {
              case (Some(JsStr(t)), idOpt) =>
                val nm = idOpt match {
                  case Some(JsStr(s)) => s
                  case _ => "auto_" + java.util.UUID.randomUUID().toString
                    .replace("-", "").take(12)
                }
                createDatasetTyped(nm, t, ProcJson.params(cfg))
                nm
              case (None, Some(JsStr(id))) => id
              case _ => throw new IllegalArgumentException(
                s"transposed: cannot resolve dataset config $d")
            }
          }
        datasets(name) = query(s"SELECT * FROM transpose($baseName)")
      case "sub" =>
        datasets(name) = query(req("query"))
      case "sampled" =>
        val base = dataset(req("dataset"))
        val seed = param("seed").map(_.toLong).getOrElse(42L)
        val withRepl = param("withReplacement").exists(_.toBoolean)
        val df = (param("rows"), param("fraction")) match {
          case (Some(nStr), _) =>
            val n = nStr.toInt
            val total = base.count()
            if (!withRepl && n > total)
              throw new IllegalArgumentException(
                s"sampled dataset: $n rows requested without replacement " +
                  s"but the dataset has only $total")
            if (!withRepl)
              // deterministic pseudo-random N rows via hash order
              base.orderBy(xxhash64(base.columns.toSeq.map(col) :+ lit(seed): _*))
                .limit(n)
            else
              base.sample(withReplacement = true,
                math.max(2.0 * n / math.max(total, 1L), 0.1), seed).limit(n)
          case (None, Some(f)) =>
            base.sample(withRepl, f.toDouble, seed)
          case _ => throw new IllegalArgumentException(
            "sampled dataset needs rows or fraction")
        }
        datasets(name) = df
      case other => throw new IllegalArgumentException(
        s"unknown dataset type '$other'")
    }
    immutableDatasets += name
  }

  /** sqliteSparse-backed dataset names → their file path. */
  private val sqliteBacked = TrieMap[String, String]()
  // beh.mutable persistence targets: (dataFileUrl path, beh type) —
  // MLDB-563; the type persists with the file so loads can check it
  // (beh_type_check_on_load_test)
  private val behBacked = TrieMap[String, (String, String)]()
  // per-dataset record-time timestamp quantum in seconds
  // (`timeQuantumSeconds`, default 1 — MLDB-987)
  private val datasetQuantum = TrieMap[String, Double]()

  /** Record-time timestamp quantum for a dataset (1 s for datasets
    * created without the param — the reference's default). */
  def timeQuantum(name: String): Double =
    datasetQuantum.getOrElse(name, 1.0)

  /** The REST façade's port once one is serving this engine — scripts
    * reach the full API back through it (`mldb.perform` in python
    * plugins/scripts, MLDB-538/444). */
  @volatile var restPort: Option[Int] = None

  /** continuous dataset names → their metadata dataset id. */
  private val continuousCfg = TrieMap[String, String]()

  /** Load a sqliteSparse file back to the wide shape: EAV cells pivot
    * to one column per distinct colName, numeric when every cell of
    * the column is numeric. The pivot width is the file's column
    * count — a single-node store by construction. */
  private def sqliteSparseWide(path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val eav = graft.sources.Sqlite.importSqliteSparse(spark, path)
    val numericCols = eav.groupBy(col("column"))
      .agg(min(col("value.num").isNotNull.cast("int")).as("allNum"))
      .collect().map(r => r.getString(0) -> (r.getInt(1) == 1)).toMap
    if (numericCols.isEmpty) return spark.emptyDataFrame
    val wide = eav
      .withColumn("__cell", coalesce(col("value.num").cast("string"),
        col("value.str")))
      .groupBy(col("rowName"))
      .pivot("column", numericCols.keys.toSeq.sorted)
      .agg(first(col("__cell"), ignoreNulls = true))
    wide.select(col("rowName") +: numericCols.keys.toSeq.sorted.map { c =>
      if (numericCols(c)) col(s"`$c`").cast("double").as(c)
      else col(s"`$c`")
    }: _*)
  }

  /** POST /v1/datasets/<n>/commit — persists file-backed mutable
    * datasets (sqliteSparse); a no-op for plain wide datasets
    * (recordRows is immediate). */
  def commitDataset(name: String): Unit = {
    sqliteBacked.get(name).foreach { path =>
      graft.sources.Sqlite.writeSparse(dataset(name), path)
    }
    // beh.mutable commit persists to its dataFileUrl; `beh` reads it
    // back (MLDB-563/1254). On-disk encoding is parquet — the
    // reference's .beh binary layout is an internal format; the API
    // surface (save at commit, reload by url, overwrite on re-commit)
    // is what its tests pin.
    behBacked.get(name).foreach { case (path, behType) =>
      val p = java.nio.file.Paths.get(path)
      // a pre-existing plain FILE at the target (tempfile handles —
      // MLDB-1254) gives way to the dataset directory
      if (java.nio.file.Files.isRegularFile(p))
        java.nio.file.Files.delete(p)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      dataset(name).write.mode("overwrite").parquet(path)
      // the beh type rides with the file — loads type-check it
      java.nio.file.Files.write(p.resolve("_graft_beh_type"),
        behType.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** POST /v1/datasets/<n>/routes/saves — the continuous dataset's
    * rotation (`builtin/continuous_dataset.cc:188-290`): snapshot the
    * recording head to `dataFileUrl`, record {uri, earliest, latest,
    * rowCount} in the metadata dataset, reset the head. */
  def saveContinuous(name: String, dataFileUrl: String): String = {
    import org.apache.spark.sql.functions._
    val metaId = continuousCfg.getOrElse(name,
      throw new IllegalArgumentException(
        s"dataset '$name' is not a continuous dataset"))
    val df = dataset(name)
    val path = dataFileUrl.stripPrefix("file://")
    val n = df.count()
    df.write.mode("overwrite").parquet(path)
    val tsIdx = df.schema.fieldNames.indexWhere(_.equalsIgnoreCase("ts"))
    val (earliest, latest) =
      if (tsIdx >= 0 && n > 0) {
        val mm = df.agg(
          min(col(df.columns(tsIdx)).cast("string")),
          max(col(df.columns(tsIdx)).cast("string"))).head()
        (Option(mm.getString(0)), Option(mm.getString(1)))
      } else {
        val now = java.time.Instant.now().toString
        (Some(now), Some(now))
      }
    val saveId = name + "-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    recordRows(metaId,
      s"""[{"rowName": ${jsonQ(saveId)}, "uri": ${jsonQ(dataFileUrl)},
         |"earliest": ${jsonQ(earliest.getOrElse(""))},
         |"latest": ${jsonQ(latest.getOrElse(""))},
         |"rowCount": $n}]""".stripMargin)
    datasets(name) = spark.emptyDataFrame
    s"""{"saved": ${jsonQ(dataFileUrl)}, "rowCount": $n, """ +
      s""""earliest": ${jsonQ(earliest.getOrElse(""))}, """ +
      s""""latest": ${jsonQ(latest.getOrElse(""))}}"""
  }

  /** dataset of type `tabular` backed by parquet at rest. */
  def createDatasetFromParquet(name: String, path: String): Unit = {
    immutableDatasets -= name
    datasets(name) = spark.read.parquet(path)
  }

  def dataset(name: String): DataFrame =
    datasets.getOrElse(name,
      // the reference's message shape
      // (MLDBFB-208 greps "dataset entry 'bar' doesn't exist")
      throw new NoSuchElementException(
        s"dataset entry '$name' doesn't exist"))

  /** `POST /v1/datasets/<n>/rows` — the reference's primary ingest
    * path (`core/dataset.h:417-539` recordRow/recordRows). Body is a
    * JSON array of flat row objects (wide mode; the reference's
    * [col, value, ts] triple form is EAV — documented divergence).
    * Parsed by Spark's own JSON codec; appended with a column-name
    * union so late columns widen the schema like the reference's
    * dynamic rows do. REST ingest is driver-side by nature — bulk
    * loads belong in import.text / parquet, this is the low-volume
    * record API. */
  def recordRows(name: String, jsonRows: String): Long = {
    import spark.implicits._
    if (immutableDatasets.contains(name))
      throw new IllegalArgumentException(
        s"dataset '$name' is a derived dataset and cannot be recorded into")
    val incoming = spark.read.json(Seq(jsonRows).toDS())
    if (incoming.columns.isEmpty)
      throw new IllegalArgumentException("no rows in body")
    // the reference rejects empty names at record time (MLDB-460;
    // a QUOTED "" — the two-quote-char name `\"\"` — is non-empty and
    // legal). Spark's JSON reader silently DROPS empty keys, so the
    // check runs on the raw payload: `""` directly after { or , and
    // before : is an empty KEY (a string VALUE is never
    // colon-followed in valid JSON).
    if (incoming.columns.exists(_.isEmpty) ||
        """[,{]\s*""\s*:""".r.findFirstIn(jsonRows).isDefined)
      throw new IllegalArgumentException("empty column names are not allowed")
    // the row-name validation RIDES the row-count action — one Spark
    // job per record call, not a filter+count job plus a count job
    val F = org.apache.spark.sql.functions
    val n =
      if (incoming.columns.exists(_.equalsIgnoreCase("rowName"))) {
        val stats = incoming.agg(
          F.count(F.lit(1)),
          F.count(F.when(F.col("rowName") === "", 1))).head()
        if (stats.getLong(1) > 0)
          throw new IllegalArgumentException("empty row names are not allowed")
        stats.getLong(0)
      } else incoming.count()
    // the read-union-replace below must be atomic per dataset —
    // concurrent record calls would otherwise drop each other's rows
    // (the reference's multithreaded-insert contract, MLDB-1360)
    recordLock(name).synchronized {
      datasets.get(name) match {
        case Some(existing) if existing.columns.isEmpty =>
          // empty mutable seed (typed creation) — first record sets
          // the schema
          datasets(name) = incoming
        case Some(existing) =>
          datasets(name) =
            existing.unionByName(incoming, allowMissingColumns = true)
        case None => datasets(name) = incoming
      }
    }
    n
  }

  /** DELETE /v1/datasets/<n> — drop the entity and its side state. */
  def deleteDataset(name: String): Unit = {
    behBacked.remove(name)
    sqliteBacked.remove(name)
    continuousCfg.remove(name)
    datasetQuantum.remove(name)
    immutableDatasets -= name
    if (datasets.remove(name).isEmpty)
      throw new NoSuchElementException(s"dataset '$name' not found")
  }

  /** Per-dataset record lock (plain monitor objects; contention is
    * REST-record-rate, not query-rate). */
  private val recordLocks = TrieMap[String, AnyRef]()
  private def recordLock(name: String): AnyRef =
    recordLocks.getOrElseUpdate(name, new AnyRef)

  /** Column-oriented recording (`core/dataset.h` recordColumn /
    * recordColumns; MLDB-541's /columns and /multicolumns routes):
    * cells MERGE onto named rows — a column posted later lands on the
    * rows earlier columns created (full outer join on rowName,
    * incoming cells win). One driver-side payload per call, like the
    * reference's route. */
  def recordColumnsJson(name: String, jsonRows: String): Long = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val incoming = spark.read.json(Seq(jsonRows).toDS())
    require(incoming.columns.contains("rowName"),
      "recordColumns needs rowName cells")
    val n = incoming.count()
    recordLock(name).synchronized { datasets.get(name) match {
      case Some(existing) if existing.columns.nonEmpty &&
          existing.columns.exists(_.equalsIgnoreCase("rowName")) =>
        val exCols = existing.columns.filterNot(_ == "rowName").toSeq
        val inCols = incoming.columns.filterNot(_ == "rowName").toSeq
        val shared = exCols.toSet.intersect(inCols.toSet)
        val joined = existing.alias("l")
          .join(incoming.alias("r"), Seq("rowName"), "full_outer")
        val outCols = col("rowName") +:
          (exCols.filterNot(shared).map(c => col(s"l.`$c`").as(c)) ++
            inCols.filterNot(shared).map(c => col(s"r.`$c`").as(c)) ++
            shared.toSeq.sorted.map(c =>
              coalesce(col(s"r.`$c`"), col(s"l.`$c`")).as(c)))
        datasets(name) = joined.select(outCols: _*)
      case _ => datasets(name) = incoming
    } }
    n
  }

  def listDatasets: Seq[String] = datasets.keys.toSeq.sorted

  def dropDataset(name: String): Unit = datasets.remove(name)

  // ---- queries (/v1/query?q=…) --------------------------------------------

  /** Run an MLDB-dialect query against the registered datasets.
    * Registered sql.expression functions are callable inside the
    * query as `name({arg: expr, …})[output]` (macro expansion). */
  def query(sql: String): DataFrame = queryStmt(graft.sql.Parser.parse(sql))

  /** A parsed (possibly rewritten) statement over the registered
    * datasets — procedures that augment the user's query AST enter
    * here. */
  private def queryStmt(stmt: graft.sql.Ast.Select): DataFrame =
    graft.sql.Lowering.run(dialect(dataset), stmt)

  /** A lowering context over `tables` with the full function registries
    * in scope — macros, $param lookups, row pivots and column
    * functions — snapshotted now. */
  private def dialect(tables: String => DataFrame): graft.sql.Lowering.Context =
    graft.sql.Lowering.Context(spark, tables,
      macros = sqlMacros.toMap, lookups = paramLookups.toMap,
      rowPivots = rowPivotFns.toMap, columnFns = columnFnRegistry.toMap)

  /** Run a Spark-SQL (ANSI) query against the registered datasets —
    * interop escape hatch: every registered dataset is exposed as a
    * temp view, so users get Spark's full SQL surface (window
    * functions, grouping sets, …) alongside the dialect. */
  def sparkSql(sql: String): DataFrame = {
    datasets.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    spark.sql(sql)
  }

  // ---- functions (/v1/functions) ------------------------------------------

  private val functions = TrieMap[String, DataFrame => DataFrame]()
  private val sqlMacros =
    TrieMap[String, Seq[graft.sql.Ast.SelectItem]]()

  /** Register an appliable function (the general row→row transform —
    * trained models register their `.transform` here). */
  def createFunction(name: String, f: DataFrame => DataFrame): Unit = {
    functions(name) = f
    compiledApplies.clear()
  }

  /** `sql.expression` — the user-defined-function mechanism
    * (`/root/reference/builtin/sql_functions.cc:613`): a named SQL
    * macro whose select items are computed over the input rows,
    * expanded at parse time into the Catalyst plan (no interpretation,
    * no UDF). */
  private def rejectBuiltinName(name: String): Unit =
    if (graft.sql.GraftSql.builtinFunctionNames.contains(name.toLowerCase))
      throw new IllegalArgumentException(
        s"MLDB already has a built-in function named '$name'")

  /** `raw` / `autoInput` creation-time options
    * (`builtin/sql_functions.cc` SqlExpressionFunctionConfig): with
    * `autoInput` the function's single input pin feeds the
    * expression's one free variable directly, and with `raw` the one
    * output value returns unwrapped — together they make the function
    * applicable over a bare JSON value, which is what the /batch route
    * consumes (MLDB-2022). */
  final case class SqlExprMeta(raw: Boolean, autoInput: Boolean,
      inputVar: Option[String])
  private val sqlExprMeta = TrieMap[String, SqlExprMeta]()
  def sqlExpressionMeta(name: String): Option[SqlExprMeta] =
    sqlExprMeta.get(name)

  /** Free variable names of an expression tree (generic product walk —
    * FnCall carries its name as a String, so only column/variable
    * references collect). */
  private def freeIdents(a: Any): Set[String] = a match {
    case graft.sql.Ast.Ident(parts) => parts.headOption.toSet
    case p: Product => p.productIterator.flatMap(freeIdents).toSet
    case s: Iterable[_] => s.iterator.flatMap(freeIdents).toSet
    case _ => Set.empty
  }

  def createSqlExpressionFunction(name: String, selectBody: String,
      raw: Boolean = false, autoInput: Boolean = false): Unit = {
    rejectBuiltinName(name)
    val stmt = graft.sql.Parser.parse(s"SELECT $selectBody")
    if (raw) require(stmt.items.size == 1,
      s"sql.expression function '$name': raw output needs exactly one " +
        s"select item, got ${stmt.items.size}")
    val inputVar =
      if (!autoInput) None
      else {
        val ids = freeIdents(stmt.items)
        require(ids.size == 1,
          s"sql.expression function '$name': autoInput needs exactly one " +
            s"input variable, got {${ids.toSeq.sorted.mkString(", ")}}")
        Some(ids.head)
      }
    sqlExprMeta(name) = SqlExprMeta(raw, autoInput, inputVar)
    sqlMacros(name) = stmt.items
    // application context carries the FULL function registries so a
    // macro body can call other registered functions — sql.query
    // row-pivots (MLDB-2022's score_many), other macros, model
    // entities. Snapshot at APPLY time (.toMap inside the closure):
    // functions registered after this one stay callable.
    functions(name) = df =>
      graft.sql.Lowering.run(dialect(_ => df),
        stmt.copy(from = Some(graft.sql.Ast.TableRef("__input", None))))
    compiledApplies.clear()
  }

  /** `sql.query` — parameterized single-row subquery function
    * (`/root/reference/builtin/sql_functions.cc:316`). The reference
    * re-executes the inner SELECT per outer row
    * (`core/analytics.cc` re-entry — no decorrelation); the
    * distributed equivalent is a broadcast lookup join on the
    * parameter columns, which is what this lowers to: the query runs
    * ONCE, its result broadcasts, and application is a left join. */
  def createSqlQueryFunction(name: String, queryText: String,
      joinCols: Seq[String]): Unit = {
    rejectBuiltinName(name)
    val lookup = query(queryText)
    functions(name) = df =>
      df.join(org.apache.spark.sql.functions.broadcast(lookup), joinCols, "left")
  }

  private val paramLookups =
    TrieMap[String, graft.sql.Lowering.ParamLookup]()
  private val rowPivotFns =
    TrieMap[String, graft.sql.Lowering.RowPivot]()

  /** `$param`-ized `sql.query` callable INSIDE the dialect per row
    * (MLDB-784: `patate({rowName() as id}) as *` against
    * `select * from ds1 where rowName() = $id`). The reference
    * re-executes the inner SELECT per outer row; here the
    * `expr = $param` conjuncts become lookup KEYS, the inner query
    * runs ONCE without them, and the bounded result ships as a
    * plan-literal key→row map probed per row — broadcast-lookup
    * semantics with zero shuffles. Registration-time snapshot, capped
    * at [[JsHost.maxQueryRows]] like every driver-side materialization. */
  def createSqlQueryDialectFunction(name: String, queryText: String,
      output: String = "FIRST_ROW"): Unit = {
    rejectBuiltinName(name)
    import graft.sql.Ast._
    val stmt = graft.sql.Parser.parse(queryText)
    // `FROM row_dataset($arg)` (MLDB-1315): the inner query operates
    // on the ARGUMENT row per call — no registration-time run is
    // possible (or needed); the call site unrolls it per field
    stmt.from match {
      case Some(TableFn("row_dataset", Seq(), Seq(Param(p)), _)) =>
        // `select *` over the pivot table IS its (column, value) pair
        // (MLDB-2163's `select * from row_dataset($row)`)
        val stmtN =
          if (stmt.items.exists(_.e.isInstanceOf[Star]))
            stmt.copy(items = Seq(
              SelectItem(Ident(Seq("column")), Some("column")),
              SelectItem(Ident(Seq("value")), Some("value"))))
          else stmt
        rowPivotFns(name) = graft.sql.Lowering.RowPivot(p, stmtN, output)
        compiledApplies.clear()
        return
      case _ => ()
    }
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case Binary("and", l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val all = stmt.where.map(conjuncts).getOrElse(Nil)
    val (paramEqs, rest) = all.partition {
      case Binary("=", _, Param(_)) | Binary("=", Param(_), _) => true
      case _ => false
    }
    require(paramEqs.nonEmpty,
      "a dialect-callable sql.query needs `expr = $param` WHERE conjuncts")
    val keys: Seq[(String, Expr)] = paramEqs.map {
      case Binary("=", l, Param(p)) => p -> l
      case Binary("=", Param(p), r) => p -> r
      case other => throw new IllegalStateException(other.toString)
    }
    val stmt2 = stmt.copy(
      where = rest.reduceOption((a, b) => Binary("and", a, b)),
      items = stmt.items ++ keys.zipWithIndex.map { case ((_, e), i) =>
        SelectItem(e, Some(s"__k_$i"))
      })
    val df = graft.sql.Lowering.run(
      graft.sql.Lowering.Context(spark, dataset, Map.empty, sqlMacros.toMap),
      stmt2)
    val keep = df.columns.zipWithIndex.filterNot { case (c, _) =>
      c.startsWith("__k_") || c.equalsIgnoreCase("rowName")
    }
    val keyIdx = keys.indices.map(i => df.columns.indexOf(s"__k_$i"))
    val rows = graft.sql.PlanTime.boundedRows(df, JsHost.maxQueryRows,
      s"sql.query '$name'")
    val entries = rows.toSeq.map { r =>
      val key = keyIdx.map(i => String.valueOf(r.get(i))).mkString("\u0001")
      key -> keep.map { case (_, i) => r.get(i) }.toSeq
    }
    val schema = org.apache.spark.sql.types.StructType(
      keep.map { case (c, i) => df.schema.fields(i).copy(name = c) })
    paramLookups(name) = graft.sql.Lowering.ParamLookup(
      keys.map(_._1), entries, schema)
  }

  /** Zero-argument `sql.query` usable INSIDE the dialect
    * (`SELECT f()[output] AS *`, MLDB-1320/1841): the inner query
    * runs at registration and its result lands as a literal row —
    * `output = "FIRST_ROW"` takes the first row's columns,
    * `"NAMED_COLUMNS"` pivots (column, value) result rows into one
    * wide row keyed by the `column` cell. Registration-time snapshot
    * (re-register to requery) — the reference re-executes per call,
    * a documented divergence of the macro form; the join-parameter
    * form above keeps live data. */
  def createSqlQueryRowFunction(name: String, queryText: String,
      output: String = "FIRST_ROW"): Unit = {
    rejectBuiltinName(name)
    import graft.sql.Ast._
    val result = query(queryText)
    def toLit(v: Any): Expr = v match {
      case null => NullLit()
      case s: String => StrLit(s)
      case b: Boolean => BoolLit(b)
      case n: Number if n.longValue == n.doubleValue =>
        NumLit(BigDecimal(n.longValue), isIntegral = true)
      case n: Number => NumLit(BigDecimal(n.doubleValue), isIntegral = false)
      case other => StrLit(String.valueOf(other))
    }
    val fields: Seq[(String, Expr)] = output.toUpperCase match {
      case "NAMED_COLUMNS" =>
        val colIdx = result.columns.indexWhere(_.equalsIgnoreCase("column"))
        require(colIdx >= 0, "NAMED_COLUMNS output needs a 'column' column")
        val valIdx = result.columns.indices.filter(i =>
          i != colIdx && !result.columns(i).equalsIgnoreCase("rowName"))
        require(valIdx.nonEmpty, "NAMED_COLUMNS output needs a value column")
        val rows = graft.sql.PlanTime.boundedRows(result,
          JsHost.maxQueryRows, s"sql.query '$name': NAMED_COLUMNS result")
        rows.toSeq.map(r =>
          String.valueOf(r.get(colIdx)) -> toLit(r.get(valIdx.head)))
      case _ =>
        // an EMPTY result is an empty output row, not an error
        // (MLDB-945's WHEN-windowed sql.query returning nothing)
        result.limit(1).collect().headOption match {
          case Some(row) => result.columns.toSeq.zipWithIndex
            .filter(!_._1.equalsIgnoreCase("rowName"))
            .map { case (c, i) => c -> toLit(row.get(i)) }
          case None => Seq.empty
        }
    }
    sqlMacros(name) = Seq(SelectItem(StructLit(fields), Some("output")))
    compiledApplies.clear()
  }

  /** `script.apply` — a function entity backed by a JavaScript snippet
    * (`/root/reference/builtin/script_function.cc:147`): the script
    * runs per row on [[graft.plans.JsEval]] with the named input
    * columns bound as JS locals, its result landing in `outputColumn`.
    * `mode` picks the static result type (num | str | bool | json —
    * Catalyst needs one; the reference's V8 values are dynamic). The
    * script parses once per executor, never per row. */
  def createScriptFunction(name: String, source: String,
      inputColumns: Seq[String], outputColumn: String = "result",
      mode: String = "num"): Unit = {
    rejectBuiltinName(name)
    graft.js.JsInterp.compile(source) // fail registration on bad code
    functions(name) = df =>
      df.withColumn(outputColumn, org.apache.spark.sql.GraftColumnBridge
        .column(graft.plans.JsEval(source, inputColumns,
          inputColumns.map(c => org.apache.spark.sql.GraftColumnBridge
            .expression(df(c))), mode)))
    compiledApplies.clear()
  }

  /** `script.apply` with `language: python` (MLDB-643,
    * `builtin/script_function.cc`): the argument row's cells arrive as
    * the reference's tuple form `[[col, [value, ts]], …]` in
    * `mldb.script.args[0]`; the script's `request.set_return` rows
    * land under `return.<col>` columns, plus the raw array as
    * `return`. DRIVER-side python per input row (the reference also
    * pays an interpreter per call) — capped at maxQueryRows; per-row
    * scoring at scale belongs in the JS script.apply (a codegen'd
    * expression) or a native entity. */
  def createPythonScriptFunction(name: String, source: String): Unit = {
    rejectBuiltinName(name)
    import org.apache.spark.sql.types._
    functions(name) = df => {
      val rows = graft.sql.PlanTime.boundedRows(df,
        JsHost.maxQueryRows, s"script.apply($name)")
      def cellJson(v: Any): String = v match {
        case null => "null"
        case s: String => jsonQ(s)
        case b: Boolean => b.toString
        case n: Number => n.toString
        case other => jsonQ(String.valueOf(other))
      }
      val cols = df.schema.fields.zipWithIndex
        .filterNot(_._1.name.equalsIgnoreCase("rowName"))
      val outRows = rows.toSeq.map { r =>
        // the `args` argument row's CELLS are the tuples — a struct
        // column expands its fields, flat dotted columns strip the
        // args. prefix
        val tuples = cols.flatMap { case (f, i) =>
          f.dataType match {
            case st: StructType =>
              val sub = r.getStruct(i)
              st.fields.zipWithIndex.map { case (sf, j) =>
                s"""[${jsonQ(sf.name)}, [${cellJson(
                  if (sub == null || sub.isNullAt(j)) null
                  else sub.get(j))}, "1970-01-01T00:00:00Z"]]"""
              }.toSeq
            case _ => Seq(
              s"""[${jsonQ(f.name.stripPrefix("args."))}, [${cellJson(
                r.get(i))}, "1970-01-01T00:00:00Z"]]""")
          }
        }.mkString("[", ",", "]")
        val res = PyBridge.run(spark, dataset, source,
          scriptArgsJson = Some(s"[$tuples]"), httpPort = restPort)
        res.returnJson.getOrElse("[]")
      }
      // return rows: [[col, value, ts], …] → stringified 2-D array
      val cellRe = ("\\[\\s*\"((?:[^\"\\\\]|\\\\.)*)\"\\s*,\\s*" +
        "(\"(?:[^\"\\\\]|\\\\.)*\"|-?[0-9.eE+]+|true|false|null)").r
      val data = outRows.map { rj =>
        val cells = cellRe.findAllMatchIn(rj).map { m =>
          val v = m.group(2)
          Seq(m.group(1),
            if (v.startsWith("\"")) v.substring(1, v.length - 1) else v)
        }.toSeq
        org.apache.spark.sql.Row(cells.map(_.toArray).toArray: Any)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1),
        StructType(Seq(StructField("return",
          ArrayType(ArrayType(StringType))))))
    }
    compiledApplies.clear()
  }

  def applyFunction(name: String, input: DataFrame): DataFrame =
    functions.get(name) match {
      case Some(f) => f(input)
      case None if columnFnRegistry.contains(name) =>
        // a natively-lowered model entity (classifier / svd.embedRow /
        // probabilizer / …): regroup the input frame's flattened
        // columns into the named argument rows (`row.n0` →
        // {row: {n0: …}}) and hand them to the builder directly —
        // arrays stay arrays (the reference's embedding values), no
        // dialect round-trip
        import org.apache.spark.sql.functions.{col, struct => structFn}
        import org.apache.spark.sql.types.{StructField, StructType}
        val grouped = input.columns.toSeq.groupBy(c =>
          if (c.contains('.')) c.takeWhile(_ != '.') else c)
        val args = grouped.map { case (k, cs) =>
          if (cs == Seq(k)) {
            val st = input.schema(k).dataType match {
              case s: StructType => Some(s)
              case _ => None
            }
            k -> ((col(s"`$k`"), st, (graft.sql.Ast.NullLit(): graft.sql.Ast.Expr)))
          } else {
            val fields = cs.map(c =>
              col(s"`$c`").as(c.stripPrefix(s"$k.")))
            val st = StructType(cs.map(c => StructField(
              c.stripPrefix(s"$k."), input.schema(c).dataType,
              nullable = true)).toArray)
            k -> ((structFn(fields: _*), Some(st),
              (graft.sql.Ast.NullLit(): graft.sql.Ast.Expr)))
          }
        }
        val out = columnFnRegistry(name).build(args)
        input.select(out.as("__out")).select(col("__out.*"))
      case None
          if rowPivotFns.contains(name) || paramLookups.contains(name) ||
            sqlMacros.contains(name) =>
        // dialect-registered sql.query forms (row_dataset($row) pivots,
        // $param lookups) apply through their dialect call — the input
        // frame's columns become the named arguments, the result lands
        // under the reference's 'output' column (MLDB-2163's
        // output.output)
        val args = input.columns
          .map(c => s""""$c": "$c"""").mkString("{", ", ", "}")
        val stmt = graft.sql.Parser.parse(
          s"""SELECT $name($args) AS * FROM __input""")
        graft.sql.Lowering.run(dialect(_ => input), stmt)
      case None =>
        throw new NoSuchElementException(s"function '$name' not found")
    }

  // ---- sensors (/v1/sensors) ----------------------------------------------

  /** The fifth entity kind (`/root/reference/core/sensor.h:37-63`): a
    * named read-on-demand value source. `latest()` re-evaluates the
    * supplier per call and stamps the read time — the reference's
    * contract (a timestamped ExpressionValue, thread-safe reads). The
    * supplier returns a one-row DataFrame so sensor reads compose with
    * the rest of the engine (query over it, record it, serve it). */
  private val sensors = TrieMap[String, () => DataFrame]()

  def createSensor(name: String, supplier: () => DataFrame): Unit =
    sensors(name) = supplier

  def listSensors: Seq[String] = sensors.keys.toSeq.sorted

  def sensorLatest(name: String): DataFrame = {
    val df = sensors.getOrElse(name,
      throw new NoSuchElementException(s"sensor '$name' not found"))()
    if (df.columns.contains("ts")) df
    else df.withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
  }

  // ---- plugins (/v1/plugins) ----------------------------------------------

  /** The fifth entity kind (`core/mldb_entity.h` — datasets,
    * procedures, functions, sensors, PLUGINS): a plugin is named,
    * operator-supplied code that can serve custom routes. The
    * reference loads python/javascript bundles whose `handleRequest`
    * answers `GET /v1/plugins/<id>/routes/<path>`
    * (`builtin/plugin.h`); here the bundle is a [[Scripting]] script —
    * compiled once at registration (bad code fails the PUT, like the
    * reference's plugin-init error surface) and invoked per route
    * call with `route` plus the query parameters as its args map. */
  private val plugins =
    TrieMap[String, (String, Map[String, String]) => Any]()

  import GraftEngine.{PluginReq, PluginHttp}

  /** Python plugin route scripts, run per-request out-of-process
    * (the reference's python plugin model — `builtin/python/
    * python_plugin_loader.cc`: `params.source.routes` executes per
    * route call with a `request` object). */
  private val pythonRoutes = TrieMap[String, String]()
  // handlers that consume the FULL request envelope (JS
  // setRequestHandler plugins get verb + payload — `builtin/plugin.h`)
  private val fullHandlers = TrieMap[String, PluginReq => Any]()
  // plugin status handlers (`plugin.setStatusHandler` — GET
  // /v1/plugins/<id> invokes them; mldb_js_plugin_statusexc)
  private val pluginStatusFns = TrieMap[String, () => String]()

  def pluginStatus(name: String): Option[String] =
    pluginStatusFns.get(name).map(_())

  /** `language`: "scala" (a [[Scripting]] snippet — the host-language
    * substitute) or "javascript" (the reference's native plugin
    * language, run on [[graft.js.JsInterp]] with the [[JsHost]]
    * bindings: `args`, `args.route`, `mldb.query`). Both compile at
    * registration so bad code fails the PUT. */
  def createPlugin(name: String, source: String,
      language: String = "scala"): Unit = language match {
    case "javascript" =>
      val program = graft.js.JsInterp.compile(source) // parse → 400
      if (source.contains("setRequestHandler") ||
          source.contains("setStatusHandler")) {
        // the reference's plugin lifecycle (`builtin/js/
        // js_plugin_loader.cc`): the script runs ONCE at load and
        // registers a request handler; each route call invokes it with
        // (relpath, verb, resource, params-as-pairs, payload,
        // contentType, contentLength, headers) — MLDB-2022's /predict.
        val (handlerOpt, statusOpt) =
          JsHost.loadPluginFull(spark, dataset, source, this)
        statusOpt.foreach(h => pluginStatusFns(name) = { () =>
          JsHost.resultJson(graft.js.JsInterp.callFunctionValue(h, Seq.empty))
        })
        val handler = handlerOpt.getOrElse {
          if (statusOpt.isDefined) {
            // status-only plugin: routes answer 404
            plugins(name) = { (route, _) =>
              throw new NoSuchElementException(
                s"plugin '$name' serves no route '$route'")
            }
            return
          }
          throw new IllegalArgumentException(
            s"plugin '$name' calls setRequestHandler with no function")
        }
        def invoke(req2: PluginReq): Any = {
          import graft.js.JsInterp._
          val pairs = new JsArrV(scala.collection.mutable.ArrayBuffer.from(
            req2.params.map { case (k, v) =>
              new JsArrV(scala.collection.mutable.ArrayBuffer(
                JsStr(k): JsVal, JsStr(v): JsVal)): JsVal
            }))
          val payload = req2.payload.stripSuffix("\n")
          val res = graft.js.JsInterp.callFunctionValue(handler, Seq(
            JsStr("/" + req2.route), JsStr(req2.verb),
            JsStr(s"/v1/plugins/$name/routes/${req2.route}"), pairs,
            if (payload == "null" || payload.isEmpty) JsUndef
            else scala.util.Try(graft.js.JsInterp.jsonParse(payload))
              .getOrElse(JsStr(payload): JsVal),
            JsStr("application/json"), JsNum(payload.length.toDouble),
            new JsArrV(scala.collection.mutable.ArrayBuffer.empty)))
          RawJson(JsHost.resultJson(res))
        }
        fullHandlers(name) = invoke
        plugins(name) = { (route, params) =>
          invoke(PluginReq(route, "GET", params.toSeq, "null\n"))
        }
      } else
      plugins(name) = { (route, params) =>
        RawJson(JsHost.resultJson(graft.js.JsInterp.run(
          program, Nil, Nil,
          extraGlobals = Map(
            "mldb" -> JsHost.mldbObject(spark, dataset, this),
            "args" -> JsHost.fromAny(
              Map("route" -> route) ++ params)))))
      }
    case "scala" | "" =>
      val handler = Scripting.compile(source)
      plugins(name) = { (route, params) =>
        handler(spark, Map("route" -> route) ++ params)
      }
    case "python" =>
      // `params.source.routes` (MLDB-2114/444): the routes script runs
      // once PER REQUEST in a fresh interpreter — the reference's
      // python plugin model, where handler state lives in the entity,
      // not the interpreter. `source` here is the routes script.
      // Bad code fails the PUT like the other languages
      // (mldb_py_plugin_nocompile): a compile() pass in a scratch
      // interpreter, no execution.
      val check = new ProcessBuilder("python3", "-c",
        "import sys; compile(sys.stdin.read(), '<plugin>', 'exec')")
      val proc = check.start()
      proc.getOutputStream.write(
        source.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      proc.getOutputStream.close()
      val err = new String(proc.getErrorStream.readAllBytes,
        java.nio.charset.StandardCharsets.UTF_8)
      proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
      if (proc.exitValue() != 0) throw new IllegalArgumentException(
        s"python plugin did not compile: ${err.linesIterator.toSeq
          .lastOption.getOrElse(err)}")
      pythonRoutes(name) = source
      plugins(name) = { (route, params) =>
        pythonRouteCall(name, PluginReq(route, "GET",
          params.toSeq, "null\n"))
      }
    case other => throw new IllegalArgumentException(
      s"unknown plugin language '$other' (scala | javascript | python)")
  }

  /** Run a python plugin's routes script for one request. The script
    * sees `request.verb/rest_params/payload/remaining` and must call
    * `request.set_return(value[, code])` — not calling it is a 500
    * ("Return value is required for route handlers but not set",
    * MLDB-2114), as is a code outside [200, 599]. */
  private def pythonRouteCall(name: String, req: PluginReq): PluginHttp = {
    val src = pythonRoutes.getOrElse(name,
      throw new NoSuchElementException(s"python plugin '$name' not found"))
    val reqJson = {
      def js(s: String) = PyBridge.jstr(s)
      val pairs = req.params.map { case (k, v) => s"[${js(k)}, ${js(v)}]" }
        .mkString("[", ", ", "]")
      s"""{"verb": ${js(req.verb)}, "remaining": ${js("/" + req.route)},
         |"rest_params": $pairs, "payload": ${js(req.payload)}}"""
        .stripMargin.replace("\n", " ")
    }
    val r = PyBridge.run(spark, dataset, src, requestJson = Some(reqJson),
      httpPort = restPort)
    if (r.returnCode != 0)
      throw new IllegalArgumentException(
        s"python route handler failed: ${r.stderr}")
    r.returnJson match {
      case Some(j) =>
        // wrapper {"code": N, "value": <json>} from the request-mode
        // prelude; code 0 (or anything non-HTTP) is a handler bug
        val codeRe = "^\\s*\\{\\s*\"code\"\\s*:\\s*(-?\\d+)\\s*,\\s*\"value\"\\s*:".r
        codeRe.findFirstMatchIn(j) match {
          case Some(m) =>
            val code = m.group(1).toInt
            if (code < 200 || code > 599) throw new IllegalStateException(
              s"route handler returned invalid HTTP code $code")
            val value = j.substring(m.end).trim.stripSuffix("}").trim
            PluginHttp(code, value)
          case None => PluginHttp(200, j)
        }
      case None => throw new IllegalStateException(
        "Return value is required for route handlers but not set")
    }
  }

  /** Full-envelope route dispatch (all verbs + payload + ordered
    * params). Python plugins get the request object; JS and scala
    * handlers receive the legacy (route, params) shape. */
  def pluginRouteFull(name: String, req: PluginReq): Any =
    if (pythonRoutes.contains(name)) pythonRouteCall(name, req)
    else fullHandlers.get(name) match {
      case Some(h) => h(req)
      case None =>
        val handler = plugins.getOrElse(name,
          throw new NoSuchElementException(s"plugin '$name' not found"))
        handler(req.route, req.params.toMap)
    }

  def listPlugins: Seq[String] = plugins.keys.toSeq.sorted

  def deletePlugin(name: String): Unit = {
    fullHandlers.remove(name)
    pythonRoutes.remove(name)
    pluginStatusFns.remove(name)
    if (plugins.remove(name).isEmpty)
      throw new NoSuchElementException(s"plugin '$name' not found")
  }

  def pluginRoute(name: String, route: String,
      params: Map[String, String]): Any = {
    val handler = plugins.getOrElse(name,
      throw new NoSuchElementException(s"plugin '$name' not found"))
    handler(route, params)
  }

  /** `GET /v1/functions/<n>/application?input={…}` — apply a
    * registered function to ONE input row given as a JSON object
    * (`server/mldb_server.cc` function application route). The input
    * parses driver-side (JsonRow) into a local relation, so a
    * pure-Column function application constant-folds through
    * ConvertToLocalRelation and executes with ZERO Spark jobs —
    * that is what makes thousands of scoring calls per second
    * possible (spark.read.json here cost one schema-inference job
    * per call). */
  def applyFunctionJson(name: String, inputJson: String): DataFrame = {
    val (schema, rows) = applyFunctionJsonRows(name, inputJson)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** The REST application route's entry: returns (schema, rows)
    * WITHOUT building a result Dataset — on the compiled path the
    * whole call is JSON parse → bound projection → rows, a few hundred
    * microseconds; even constructing a one-row DataFrame around the
    * result costs ~4ms of per-call analysis/planning in `take`. */
  def applyFunctionJsonRows(name: String, inputJson: String)
      : (org.apache.spark.sql.types.StructType, Seq[org.apache.spark.sql.Row]) = {
    val (schema, row) = JsonRow.parseFlat(inputJson)
    compiledApply(name, schema) match {
        case Some(c) =>
          // no lock: the projection is thread-local (see CompiledApply)
          // so 8 concurrent scoring clients evaluate in parallel — the
          // single shared projection's synchronized block serialized
          // the whole scoring route at one core
          val outRow = c(row).asInstanceOf[org.apache.spark.sql.Row]
          (c.outSchema, Seq(outRow))
        case None =>
          val df = applyFunction(name, spark.createDataFrame(
            java.util.Collections.singletonList(row), schema))
          (df.schema, df.take(10).toSeq)
      }
  }

  /** Single-row scoring compiled to a bound Catalyst projection: when
    * a function's plan over a local relation collapses to pure
    * Projects (the sql.expression macro case — no joins, no
    * aggregates), the expressions are bound and compiled ONCE per
    * (function, input schema); each application then evaluates them
    * directly on the driver with zero analysis, zero optimization and
    * zero Spark jobs. This is what the reference's "thousands of
    * calls per second" scoring route amounts to (lock-free bound
    * expressions, `server/mldb_server.cc`); functions that genuinely
    * need the cluster (lookup joins, aggregates) fall back to the
    * DataFrame path. */
  private val compiledApplies = scala.collection.concurrent.TrieMap[
    (String, org.apache.spark.sql.types.StructType), Option[CompiledApply]]()

  private[graft] def compiledApply(name: String,
      schema: org.apache.spark.sql.types.StructType): Option[CompiledApply] =
    compiledApplies.getOrElseUpdate((name, schema), compileApply(name, schema))

  /** The type converters are stateless closures (each call allocates
    * its own rows) and safe to share; the PROJECTION reuses a mutable
    * result row, so each thread gets its own instance via ThreadLocal
    * — the codegen cache makes the per-thread compile a lookup.
    * `boundExprs` gives each new projection its own bound copy of the
    * expression trees (see compileApply). */
  private[graft] final case class CompiledApply(
      toCatalyst: Any => Any,
      boundExprs: () =>
        Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      fromCatalyst: Any => Any,
      outSchema: org.apache.spark.sql.types.StructType) {
    def newProjection(): org.apache.spark.sql.catalyst.expressions.Projection = {
      val proj = org.apache.spark.sql.catalyst.expressions.SafeProjection
        .create(boundExprs())
      proj.initialize(0) // non-deterministic exprs need a partition
      proj
    }
    private val proj = new ThreadLocal[
        org.apache.spark.sql.catalyst.expressions.Projection] {
      override def initialValue():
          org.apache.spark.sql.catalyst.expressions.Projection =
        newProjection()
    }
    def apply(row: Any): Any =
      fromCatalyst(proj.get()(toCatalyst(row)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
  }

  private def compileApply(name: String,
      inSchema: org.apache.spark.sql.types.StructType): Option[CompiledApply] = {
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
    import org.apache.spark.sql.types.{StructField, StructType}
    try {
      val template = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), inSchema)
      // applyFunction (not the raw map) so natively-lowered entities
      // (classifier / svd.embedRow / probabilizer) compile to the same
      // zero-job projection as sql.expression macros
      val out = applyFunction(name, template)
      var p: LogicalPlan =
        org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(
          out.queryExecution.analyzed)
      var prev: LogicalPlan = null
      while (prev ne p) { // withColumn chains = nested Projects
        prev = p
        p = org.apache.spark.sql.catalyst.optimizer.CollapseProject(p)
      }
      p match {
        case Project(exprs, l: LocalRelation) =>
          // Each thread binds its own copy of every STATEFUL node, at
          // any depth: SafeProjection can fall back to CodegenFallback/
          // interpreted evaluation, where a stateful expression instance
          // (rand's generator) carries mutable state, so sharing one
          // tree across concurrent scoring threads would race. (A
          // transformUp/makeCopy rebuild is not enough: Catalyst keeps
          // value-equal children, so only the root would be fresh.)
          val boundExprs = () => exprs.map(e => BindReferences.bindReference(
            e.freshCopyIfContainsStatefulExpression(), l.output))
          val outSchema = StructType(exprs.map(e =>
            StructField(e.name, e.dataType, e.nullable)))
          val compiled = CompiledApply(
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .createToCatalystConverter(inSchema),
            boundExprs,
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .createToScalaConverter(outSchema),
            outSchema)
          compiled.newProjection() // compile eagerly so an unprojectable plan fails HERE
          Some(compiled)
        case _ => None
      }
    } catch {
      // a plan the projection path cannot bind or compile applies
      // through the Dataset path instead (the caller's None branch)
      case scala.util.control.NonFatal(_) => None
    }
  }

  def listFunctions: Seq[String] = functions.keys.toSeq.sorted

  /** Does ANY function registry hold this name (the flat map, the
    * natively-lowered entities, macros, lookups, pivots)? */
  def functionExists(name: String): Boolean =
    functions.contains(name) || columnFnRegistry.contains(name) ||
      sqlMacros.contains(name) || paramLookups.contains(name) ||
      rowPivotFns.contains(name)

  // ---- procedures (/v1/procedures + /runs) --------------------------------

  /** Async procedure runs (`POST /v1/procedures/<id>/runs` +
    * run-status polling — the reference's run model,
    * `rest/poly_collection.cc` async PUT semantics). One daemon thread
    * per run; the run object is the pollable state machine
    * executing → finished | error. */
  final class Run(val id: String) {
    @volatile var state: String = "executing"
    @volatile var error: Option[String] = None
    /** the output dataset's row count, read off the result JSON; -1
      * when the run registered none. */
    @volatile var rowCount: Long = -1
    /** progress steps as (name, type, percent) — the reference's
      * Progress shape (MLDB-1570). */
    @volatile var progress: Seq[(String, String, Double)] = Seq.empty
    /** the run's result JSON once finished. */
    @volatile var result: Option[String] = None
    /** run lifecycle (MLDB-525 asserts runStarted <= runFinished). */
    @volatile var started: java.time.Instant = java.time.Instant.now()
    @volatile var finished: Option[java.time.Instant] = None
    /** the executing thread + cancel mark (MLDB-408: PUT state
      * 'cancelled' interrupts the run and cancels its Spark jobs). */
    @volatile var thread: Option[Thread] = None
    @volatile var cancelled: Boolean = false
  }

  /** `PUT /v1/procedures/<n>/runs/<id>/state {"state": "cancelled"}`
    * (MLDB-408): mark, cancel the run's Spark job group (jobs
    * interrupt mid-stage), interrupt the thread. A finished run stays
    * finished. */
  def cancelRun(id: String): String = {
    val run = runs.getOrElse(id,
      throw new NoSuchElementException(s"run '$id' not found"))
    if (run.state == "executing" || run.state == "initializing") {
      run.cancelled = true
      spark.sparkContext.cancelJobGroup(s"graft-run-$id")
      run.thread.foreach(_.interrupt())
      run.state = "cancelled"
    }
    run.state
  }
  private val runs = TrieMap[String, Run]()

  /** POST …/runs with the async header (MLDB-1570/2110, MLDB-305):
    * run the procedure on a background thread; the returned id is
    * GETtable at /v1/procedures/<n>/runs/<id> with state +
    * monotonically increasing progress. */
  def startProcedureRunAsync(tpe: String,
      json: String => Option[graft.js.JsInterp.JsVal],
      id: Option[String]): String = {
    val run = new Run(java.util.UUID.randomUUID().toString.take(8))
    // the type's progress step names (MLDB-1570 pins bucketize's
    // iterating/bucketizing, both type 'percentile'; MLDB-2110 polls
    // transform's)
    run.progress = procedureTypes.get(tpe).map(_.steps).filter(_.nonEmpty)
      .getOrElse(Seq(("executing", tpe))).map { case (n, t) => (n, t, 0.0) }
    runs(run.id) = run
    // the listener bridge (MLDB-2110): Spark task completions in this
    // run's job group drive the progress percent — fine-grained and
    // monotone, not a coarse 0 → 100 jump
    val listener = new org.apache.spark.scheduler.SparkListener {
      private val stages = java.util.concurrent.ConcurrentHashMap
        .newKeySet[Int]()
      private val total = new java.util.concurrent.atomic.AtomicLong(0)
      private val done = new java.util.concurrent.atomic.AtomicLong(0)
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && s"graft-run-${run.id}" ==
            js.properties.getProperty("spark.jobGroup.id")) {
          js.stageInfos.foreach { si =>
            if (stages.add(si.stageId)) total.addAndGet(si.numTasks.toLong)
          }
        }
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId)) {
          val d = done.incrementAndGet()
          val t = total.get()
          if (t > 0) {
            val pct = math.min(99.0, d * 100.0 / t)
            run.progress = run.progress.map { case (n, tt, v) =>
              (n, tt, math.max(v, pct))
            }
          }
        }
    }
    val t = new Thread(() => {
      try {
        // the run's Spark jobs share a cancellable group (MLDB-408)
        spark.sparkContext.addSparkListener(listener)
        spark.sparkContext.setJobGroup(s"graft-run-${run.id}",
          s"procedure run ${run.id}", interruptOnCancel = true)
        val res = runProcedure(tpe, json, id)
        run.progress = run.progress.map { case (n, tt, _) => (n, tt, 100.0) }
        run.rowCount = "\"rowCount\": (\\d+)".r.findFirstMatchIn(res)
          .map(_.group(1).toLong).getOrElse(-1L)
        run.result = Some(res)
        run.finished = Some(java.time.Instant.now())
        if (!run.cancelled) run.state = "finished"
      } catch {
        // an interrupt is the cancellation itself (cancelRun interrupts
        // this thread); a cancelled run's Spark jobs fail with an
        // ordinary exception
        case _: InterruptedException =>
          run.finished = Some(java.time.Instant.now())
          run.state = "cancelled"
        case scala.util.control.NonFatal(e) =>
          run.finished = Some(java.time.Instant.now())
          if (run.cancelled) run.state = "cancelled"
          else {
            run.error = Some(String.valueOf(e.getMessage))
            run.state = "error"
          }
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
    }, s"graft-procrun-${run.id}")
    run.thread = Some(t)
    t.setDaemon(true)
    t.start()
    run.id
  }

  def runStatusOpt(id: String): Option[Run] = runs.get(id)

  def runStatus(id: String): Run =
    runs.getOrElse(id, throw new NoSuchElementException(s"run '$id' not found"))

  /** Parse + validate a `percentileBuckets` config object
    * (`plugins/feature_gen/bucketize_procedure.cc` config: named
    * [lower, upper] percentile ranges, each within [0, 100],
    * non-inverted, mutually non-overlapping — the reference 400s a bad
    * config at procedure CREATION, before any run: MLDB-1043 tests
    * 2/6/7/8). */
  private def parsePercentileBuckets(
      v: graft.js.JsInterp.JsVal): Seq[(String, Double, Double)] = {
    import graft.js.JsInterp.{JsArrV, JsNum, JsObjV}
    val buckets = v match {
      case o: JsObjV => o.fields.toSeq.map {
        case (n, a: JsArrV) if a.elems.size == 2 => a.elems.toSeq match {
          case Seq(JsNum(lo), JsNum(hi)) => (n, lo, hi)
          case _ => throw new IllegalArgumentException(
            s"percentile range of bucket '$n' must be [lower, upper]")
        }
        case (n, _) => throw new IllegalArgumentException(
          s"percentile range of bucket '$n' must be [lower, upper]")
      }
      case _ => Seq.empty
    }
    require(buckets.nonEmpty,
      "percentileBuckets must define at least one bucket")
    buckets.foreach { case (n, lo, hi) =>
      require(lo >= 0 && hi <= 100 && lo <= hi,
        s"percentile range of bucket '$n' must satisfy 0 <= lower <= upper <= 100")
    }
    buckets.sortBy(_._2).sliding(2).foreach {
      case Seq(a, b) => require(a._3 <= b._2,
        s"percentile ranges of buckets '${a._1}' and '${b._1}' overlap")
      case _ => ()
    }
    buckets
  }

  /** trained svd models by modelFileUrl: (trained columns with their
    * extraction ops — VALUE reads the column, VALUE_EQUALS is a
    * string one-hot re-applied at embed time like the reference's
    * COL_EQUAL (`plugins/embedding/svd.cc:836`) —, model, effective
    * singular values kept). */
  private val svdModels =
    TrieMap[String, (Seq[FeatSpec], graft.ml.Models.PCAApplied, Int)]()

  /** trained kmeans models by modelFileUrl: (trained columns,
    * centroids). */
  private val kmeansModels =
    TrieMap[String, (Seq[String], Array[Array[Double]])]()

  /** trained gaussian-mixture models by modelFileUrl: (trained
    * columns, plan-literal model). */
  private val gmmModels =
    TrieMap[String, (Seq[String], graft.ml.Models.GmmApplied)]()

  /** natively-lowered dialect functions (model entities) — handed to
    * every dialect query as Lowering.ColumnFn. */
  private val columnFnRegistry =
    TrieMap[String, graft.sql.Lowering.ColumnFn]()

  /** GET /v1/functions/<name>/details payloads (model introspection —
    * MLDB-174/961 read the trained feature list out of it). */
  private val functionDetailsMap = TrieMap[String, String]()

  def functionDetails(name: String): String =
    functionDetailsMap.getOrElse(name,
      throw new NoSuchElementException(
        s"function '$name' has no details"))

  /** GET /v1/functions/<name>/info payloads (ValueInfo reflection of
    * the function's input/output rows — MLDB-654 pins the exact
    * shape). */
  private val functionInfoMap = TrieMap[String, String]()

  def functionInfo(name: String): String =
    functionInfoMap.getOrElse(name,
      throw new NoSuchElementException(
        s"function '$name' has no info"))

  /** One trained classifier feature: extract = VALUE (numeric read) or
    * VALUE_EQUALS (string one-hot against `category`) — the
    * reference's feature-extraction ops
    * (`plugins/jml/dataset_feature_space.cc`; MLDB-961 pins both kinds
    * in `/details`). */
  case class FeatSpec(column: String, extract: String, category: Option[String]) {
    /** display key for details/info JSON */
    def key: String = category match {
      case Some(c) => s"$column=$c"
      case None => column
    }
  }

  /** trained classifiers by modelFileUrl: (feature specs in trained
    * order, mode, label names in index order, pipeline). The model's
    * vector slots are `__f<i>` internally — spec i owns slot i. */
  private val clsModels = TrieMap[String,
    (Seq[FeatSpec], String, Seq[String], org.apache.spark.ml.PipelineModel)]()

  /** The function-application input expression for one trained feature
    * slot, reading the argument row `fc` (type `ft`): VALUE reads the
    * column as double (absent/null → 0 like the other model
    * entities); VALUE_EQUALS reads 1/0 on string match — an UNSEEN
    * category reads 0 everywhere (MLDB-2181's 'c' over a_or_b). */
  private def featSpecExpr(spec: FeatSpec, fc: org.apache.spark.sql.Column,
      ft: Option[org.apache.spark.sql.types.StructType]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val field = ft.flatMap(_.fields.find(_.name.equalsIgnoreCase(spec.column)))
    (field, spec.category) match {
      case (None, _) => lit(0.0)
      case (Some(f), Some(cat)) =>
        when(fc.getField(f.name).cast("string") === cat, lit(1.0))
          .otherwise(lit(0.0))
      case (Some(f), None) =>
        coalesce(fc.getField(f.name).cast("double"), lit(0.0))
    }
  }

  /** `classifier` as a REST-creatable function (MLDB-647/MLDB-173):
    * applies a trained model to the argument row. Boolean /
    * regression modes output `{score}`; categorical outputs
    * `{scores.<label>}` per class — all plan-literal expressions
    * ([[graft.ml.Models.classProbColumns]]), codegen'd, no UDF. A
    * feature absent from the argument row reads 0 like the other
    * model entities. */
  def createClassifierFunction(name: String, modelUrl: String): Unit = {
    rejectBuiltinName(name)
    val (specs, mode, labels, model) = clsModels.getOrElse(modelUrl,
      throw new NoSuchElementException(
        s"no classifier trained at '$modelUrl'"))
    if (mode != "regression" && !graft.ml.Models.classProbSupported(model))
      throw new IllegalArgumentException(
        s"cannot create classifier function '$name': model at " +
          s"'$modelUrl' (${model.stages.last.getClass.getSimpleName}) " +
          "is not supported for plan-literal scoring — supported " +
          "algorithms: glz, dt, bagging, boosting, naive_bayes")
    import org.apache.spark.sql.functions._
    val internal = specs.indices.map(i => s"__f$i")
    columnFnRegistry(name) = graft.sql.Lowering.ColumnFn { args =>
      val (fc, ft, _) = args.getOrElse("features",
        throw new IllegalArgumentException(
          s"function '$name' expects a {features: {…}} argument row"))
      def feat(n: String): org.apache.spark.sql.Column =
        featSpecExpr(specs(internal.indexOf(n)), fc, ft)
      mode match {
        case "regression" =>
          struct(graft.ml.Models
            .regressionValueColumn(model, internal, feat).as("score"))
        case "categorical" =>
          val probs = graft.ml.Models.classProbColumns(model, internal, feat)
          struct(struct(labels.zip(probs).map { case (l, p) =>
            p.as(l)
          }: _*).as("scores"))
        case _ => // boolean: score = P(true)
          val probs = graft.ml.Models.classProbColumns(model, internal, feat)
          struct(probs.last.as("score"))
      }
    }
    functionDetailsMap(name) = classifierDetailsJson(specs, mode, labels, model)
    functionInfoMap(name) = classifierInfoJson(specs, mode, labels)
    compiledApplies.clear()
  }

  /** `/v1/functions/<name>/details` body — the reference's model
    * introspection (`MLDB-565/961` pin the GLZ shape: addBias, the
    * feature-extraction list with VALUE/VALUE_EQUALS ops, link, and
    * per-output `[coef…, bias]` weight rows in ORIGINAL feature
    * space). Tree families keep features + labels. */
  private def classifierDetailsJson(specs: Seq[FeatSpec], mode: String,
      labels: Seq[String], model: org.apache.spark.ml.PipelineModel): String = {
    val family = model.stages.last.getClass.getSimpleName match {
      case n if n.contains("Logistic") || n.contains("LinearRegression") =>
        "GLZ"
      case n if n.contains("DecisionTree") => "DECISION_TREE"
      case n if n.contains("RandomForest") => "BAGGING"
      case n if n.contains("GBT") => "BOOSTING"
      case n if n.contains("NaiveBayes") => "NAIVE_BAYES"
      case n => n
    }
    val featsJson = specs.map { s =>
      val cat = s.category.map(c => s""""category": ${jsonQ(c)}, """)
        .getOrElse("")
      s"""{$cat"extract": "${s.extract}", "feature": ${jsonQ(s.column)}}"""
    }.mkString("[", ",", "]")
    val glzParams = graft.ml.Models.glzWeightRows(model) match {
      case Some((rows, link)) =>
        val w = rows.map(_.map(v =>
          if (v.isNaN) "null" else v.toString).mkString("[", ",", "]"))
          .mkString("[", ",", "]")
        s""""addBias": true, "features": $featsJson, "link": "$link", """ +
          s""""weights": $w"""
      case None =>
        s""""features": $featsJson, """ +
          s""""labels": ${labels.map(jsonQ).mkString("[", ",", "]")}"""
    }
    s"""{"model": {"params": {$glzParams}, """ +
      s""""type": "$family", "mode": "$mode"}}"""
  }

  /** `/v1/functions/<name>/info` body — ValueInfo reflection of the
    * classifier function's input/output rows, the exact shape of
    * `testing/MLDB-654-classifier-function-info.js`: input is
    * `[{features: {<column>: Float32}}]` (columns alphabetical,
    * one-hot columns folded back to their source column), output is
    * `{scores: {<label>: Float32}}` for categorical or
    * `{score: Float32}` otherwise, score columns carrying their
    * vector offsets. */
  private def classifierInfoJson(specs: Seq[FeatSpec], mode: String,
      labels: Seq[String]): String = {
    def f32 = """{"isConstant": false, "kind": "scalar", """ +
      """"scalar": "float", "type": "MLDB::Float32ValueInfo"}"""
    def knownCol(cn: String, off: Option[Int], vi: String): String = {
      val offJson = off.map(o => s""""offset": $o, """).getOrElse("")
      s"""{"columnName": ${jsonQ(cn)}, $offJson"sparsity": "dense", """ +
        s""""valueInfo": $vi}"""
    }
    def rowInfo(cols: Seq[String]): String =
      s"""{"hasUnknownColumns": false, "hasUnknownColumnsRecursive": false, """ +
        s""""isConstant": false, "kind": "row", """ +
        s""""knownColumns": [${cols.mkString(",")}], """ +
        s""""type": "MLDB::RowValueInfo"}"""
    val featCols = specs.map(_.column).distinct.sorted
      .map(c => knownCol(c, None, f32))
    val input = s"[${rowInfo(Seq(knownCol("features", None,
      rowInfo(featCols))))}]"
    val output = mode match {
      case "categorical" =>
        val scoreCols = labels.zipWithIndex.map { case (l, i) =>
          knownCol(l, Some(i), f32)
        }
        rowInfo(Seq(knownCol("scores", Some(0), rowInfo(scoreCols))))
      case _ =>
        rowInfo(Seq(knownCol("score", Some(0), f32)))
    }
    s"""{"input": $input, "output": $output}"""
  }

  private def jsonQ(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** trained SVMs by modelFileUrl: (feature columns, label VALUES by
    * class index, per-class (weights, intercept)). */
  private val svmModels = TrieMap[String,
    (Seq[String], Seq[String], Seq[(Array[Double], Double)])]()

  /** `svm` as a REST-creatable function (MLDB-991):
    * `{embedding: {col: val}}` → `{output: <label>}` — the argmax of
    * the one-vs-rest margins, all plan-literal. An integral label set
    * answers integers (the reference's 39/72 pins). */
  def createSvmFunction(name: String, modelUrl: String): Unit = {
    rejectBuiltinName(name)
    val (featCols, labels, margins) = svmModels.getOrElse(modelUrl,
      throw new NoSuchElementException(
        s"no svm model trained at '$modelUrl'"))
    import org.apache.spark.sql.functions._
    val integral = labels.forall(_.matches("-?\\d+(\\.0+)?"))
    def labelLit(l: String): org.apache.spark.sql.Column =
      if (integral) lit(l.takeWhile(c => c == '-' || c.isDigit).toLong)
      else lit(l)
    columnFnRegistry(name) = graft.sql.Lowering.ColumnFn { args =>
      val (ec, et, _) = args.getOrElse("embedding",
        throw new IllegalArgumentException(
          s"function '$name' expects an {embedding: {…}} argument row"))
      def feat(c: String): org.apache.spark.sql.Column =
        et.flatMap(_.fields.find(_.name.equalsIgnoreCase(c)))
          .map(f => coalesce(ec.getField(f.name).cast("double"), lit(0.0)))
          .getOrElse(lit(0.0))
      val ms = margins.map { case (w, b) =>
        featCols.zipWithIndex.map { case (c, i) => feat(c) * w(i) }
          .foldLeft(lit(b): org.apache.spark.sql.Column)(_ + _)
      }
      // two-class OneVsRest still yields one model per class; argmax
      // over the margin chain picks the label
      val best = labels.indices.tail.foldLeft(
        (labelLit(labels.head), ms.head)) { case ((bl, bm), i) =>
        (when(ms(i) > bm, labelLit(labels(i))).otherwise(bl),
          greatest(ms(i), bm))
      }._1
      struct(best.as("output"))
    }
    compiledApplies.clear()
  }

  /** trained probabilizers by modelFileUrl: prob = σ(A·score + B)
    * (Platt scaling — `plugins/jml/probabilizer.cc:292`'s glz over
    * `[score, 1]`). */
  private val probModels = TrieMap[String, (Double, Double)]()

  /** `probabilizer` as a REST-creatable function (MLDB-59/573):
    * calibrate a raw classifier score into a probability. Application
    * is the plan-literal logistic σ(A·score + B) — codegen'd, zero
    * driver participation. Input `{score}`, output `{prob}`. */
  def createProbabilizerFunction(name: String, modelUrl: String): Unit = {
    rejectBuiltinName(name)
    val (a, b) = probModels.getOrElse(modelUrl,
      throw new NoSuchElementException(
        s"no probabilizer trained at '$modelUrl'"))
    import org.apache.spark.sql.functions._
    columnFnRegistry(name) = graft.sql.Lowering.ColumnFn { args =>
      val (sc, st, _) = args.getOrElse("score",
        throw new IllegalArgumentException(
          s"function '$name' expects a {score: …} argument"))
      // accept both a scalar score and a classifier-output row
      // holding one ({score} — MLDB-573 pipes classifier() straight
      // in)
      val raw = st match {
        case Some(t) => t.fields.find(_.name.equalsIgnoreCase("score"))
          .map(f => sc.getField(f.name).cast("double"))
          .getOrElse(sc.cast("double"))
        case None => sc.cast("double")
      }
      struct((lit(1.0) / (lit(1.0) +
        exp(-(raw * a + b)))).as("prob"))
    }
    compiledApplies.clear()
  }

  /** trained statsTables by statsTableFileUrl: (key columns in
    * trained order, outcome names in config order, per-column value
    * table value → (trials, per-outcome counts)) —
    * `plugins/feature_gen/stats_table_procedure.cc`'s StatsTablesMap. */
  private val statsTableModels = TrieMap[String,
    (Seq[String], Seq[String], Map[String, Seq[(String, Long, Seq[Long])]])]()

  /** trained bagOfWords statsTables by statsTableFileUrl:
    * (outcome names, word → (trials, per-outcome counts)). */
  private val bowStatsModels = TrieMap[String,
    (Seq[String], Map[String, (Long, Seq[Long])])]()

  /** `[["name", "expr"], …]` outcome pairs (the statsTable procedures'
    * config shape). */
  private def parseOutcomePairs(
      v: graft.js.JsInterp.JsVal): Seq[(String, String)] = v match {
    case a: graft.js.JsInterp.JsArrV => a.elems.toSeq.map {
      case p: graft.js.JsInterp.JsArrV if p.elems.size == 2 =>
        ProcJson.paramString(p.elems(0)) -> ProcJson.paramString(p.elems(1))
      case other => throw new IllegalArgumentException(
        s"outcome ${ProcJson.stringify(other)} is not a [name, expression] pair")
    }
    case _ => Seq.empty
  }

  /** `statsTable.getCounts` as a function entity (MLDB-873's `mySt`;
    * `stats_table_procedure.cc:986`): `{keys: {col: val}}` → `{counts:
    * {<outcome>: {col: n}, …, trial: {col: n}}}` reading the FINAL
    * trained table. The value tables embed as plan-literal maps
    * (config-sized, PlanTime-capped at training) — lookups are
    * codegen'd element_at, zero shuffle. */
  def createStatsTableFunction(name: String, modelUrl: String): Unit = {
    rejectBuiltinName(name)
    val (keyCols, outcomeNames, tables) = statsTableModels.getOrElse(modelUrl,
      throw new NoSuchElementException(
        s"no stats table trained at '$modelUrl'"))
    import org.apache.spark.sql.functions._
    columnFnRegistry(name) = graft.sql.Lowering.ColumnFn { args =>
      val (kc, kt, _) = args.getOrElse("keys",
        throw new IllegalArgumentException(
          s"function '$name' expects a {keys: {…}} argument row"))
      // only TRAINED key columns present in the argument row count;
      // unknown columns ('prout') drop — the reference's contract
      val present = keyCols.sorted.filter(c =>
        kt.exists(_.fields.exists(_.name.equalsIgnoreCase(c))))
      def fieldOf(c: String) = kt.flatMap(
        _.fields.find(_.name.equalsIgnoreCase(c)))
        .map(f => kc.getField(f.name).cast("string")).get
      def lookup(c: String, pick: ((String, Long, Seq[Long])) => Long)
          : org.apache.spark.sql.Column = {
        val entries = tables.getOrElse(c, Seq.empty)
        if (entries.isEmpty) lit(0L)
        else coalesce(element_at(
          map(entries.flatMap(e => Seq(lit(e._1), lit(pick(e)))): _*),
          fieldOf(c)), lit(0L))
      }
      val outcomeStructs = outcomeNames.zipWithIndex.map { case (o, i) =>
        struct(present.map(c => lookup(c, _._3(i)).as(c)): _*).as(o)
      } :+ struct(present.map(c => lookup(c, _._2).as(c)): _*).as("trial")
      struct(struct(outcomeStructs: _*).as("counts"))
    }
    compiledApplies.clear()
  }

  /** `statsTable.bagOfWords.posneg` as a function entity
    * (`stats_table_procedure.cc:816-896`; MLDB-873/MLDBFB-506):
    * select the top-`numPos` / bottom-`numNeg` words by
    * P(outcome|word) among words with ≥ minTrials trials —
    * reproducing the reference's exact selection quirks (reverse sort
    * of (name, p) PAIRS, fixed-pivot tie expansion) — and emit
    * `{probs: {<word>.<outcome>: p}}` for argument words in the
    * selected set. */
  def createStatsTablePosNegFunction(name: String, modelUrl: String,
      outcomeToUse: String, numPos: Int = 50, numNeg: Int = 50,
      minTrials: Int = 50): Unit = {
    rejectBuiltinName(name)
    val (outcomeNames, words) = bowStatsModels.getOrElse(modelUrl,
      throw new NoSuchElementException(
        s"no bagOfWords stats table trained at '$modelUrl'"))
    val oIdx = outcomeNames.indexWhere(_ == outcomeToUse)
    if (oIdx < 0) throw new IllegalArgumentException(
      s"Outcome '$outcomeToUse' not found in stats table!")
    val accum: Seq[(String, Double)] = words.toSeq.collect {
      case (w, (trials, ocs)) if trials >= minTrials =>
        w -> ocs(oIdx).toDouble / trials
    }
    val selected: Map[String, Double] =
      if (accum.size < numPos + numNeg) accum.toMap
      else {
        // the reference sorts the (name, p) PAIRS in reverse — name
        // first — and expands ties against the FIXED pivot at it+n
        val desc = accum.sorted(
          Ordering.Tuple2(Ordering.String,
            Ordering.Double.TotalOrdering: Ordering[Double]).reverse)
        def take(n: Int, seq: Seq[(String, Double)]): Seq[(String, Double)] = {
          val pivot = seq.lift(n)
          seq.zipWithIndex.takeWhile { case ((_, p), i) =>
            i < n || pivot.exists(_._2 == p)
          }.map(_._1)
        }
        (take(numPos, desc) ++ take(numNeg, desc.reverse)).toMap
      }
    import org.apache.spark.sql.functions._
    columnFnRegistry(name) = graft.sql.Lowering.ColumnFn { args =>
      val (wc, wt, _) = args.getOrElse("words",
        throw new IllegalArgumentException(
          "statsTable.bagOfWords.posneg : expect 'keys' as a row"))
      val probs = wt match {
        case Some(st) =>
          // struct argument: the word set is static at the call site
          st.fieldNames.toSeq.filter(selected.contains).sorted.map(w =>
            lit(selected(w)).as(s"$w.$outcomeToUse"))
        case None =>
          // map argument (a tokenize bag): emit each SELECTED word's
          // probability when the row's bag holds it, null otherwise —
          // the selected set is model-sized and static
          selected.keys.toSeq.sorted.map(w =>
            when(element_at(wc, lit(w)).isNotNull, lit(selected(w)))
              .as(s"$w.$outcomeToUse"))
      }
      struct(struct(probs: _*).as("probs"))
    }
    compiledApplies.clear()
  }

  /** One cell of a trained distribution table: the running stats the
    * reference keeps per (key column, value)
    * (`plugins/feature_gen/dist_table_procedure.cc`). All seven stats
    * are always STORED; the `statistics` config only selects which to
    * EMIT (MLDB-1750's get_stats_non_default reads max from a table
    * trained with ['last','min','sum']). */
  case class DistStats(count: Long, sum: Double, avg: Double, std: Double,
    min: Double, max: Double, last: Double)

  private object DistStats {
    val empty: DistStats = DistStats(0L, 0.0, Double.NaN, Double.NaN,
      Double.NaN, Double.NaN, Double.NaN)
    val known: Seq[String] =
      Seq("count", "avg", "std", "min", "max", "last", "sum")
    def pick(s: DistStats, stat: String): Double = stat match {
      case "count" => s.count.toDouble
      case "avg" => s.avg
      case "std" => s.std
      case "min" => s.min
      case "max" => s.max
      case "last" => s.last
      case "sum" => s.sum
    }
  }

  /** Validate a distTable `statistics` list — the reference's
    * "Unknown distribution table statistic" error. */
  private def validateDistStats(stats: Seq[String]): Seq[String] = {
    stats.foreach(s => if (!DistStats.known.contains(s))
      throw new IllegalArgumentException(
        s"Unknown distribution table statistic '$s'"))
    stats
  }

  /** trained dist tables by distTableFileUrl: (mode, outcome names,
    * key columns, per-column value table — None key = the NULL value
    * (MLDB-1750 test_null_col treats NULL as a value); bagOfWords
    * tables key word columns by presence). */
  private val distTableModels = TrieMap[String, (String, Seq[String],
    Seq[String], Map[String, Map[Option[String], Seq[DistStats]]])]()

  /** `experimental.distTable.getStats` as a function entity
    * (MLDB-1750): `{features: {col: val}}` → `{stats:
    * {<outcome>.<col>.<stat>}}` reading the FINAL table. Unknown
    * values (and, in bagOfWords mode, unknown words) read the empty
    * stats (count 0, NaN elsewhere, sum 0). Plan-literal CASE folds —
    * config-sized tables, codegen'd lookups. */
  def createDistTableGetStatsFunction(name: String, modelUrl: String,
      statistics: Option[Seq[String]] = None): Unit = {
    rejectBuiltinName(name)
    val (mode, outcomeNames, keyCols, tables) =
      distTableModels.getOrElse(modelUrl,
        throw new NoSuchElementException(
          s"no dist table trained at '$modelUrl'"))
    val stats = validateDistStats(statistics.getOrElse(
      Seq("count", "avg", "std", "min", "max")))
    distFnConfigs(name) = (modelUrl, stats)
    import org.apache.spark.sql.functions._
    columnFnRegistry(name) = graft.sql.Lowering.ColumnFn { args =>
      val (fc, ft, _) = args.getOrElse("features",
        throw new IllegalArgumentException(
          s"function '$name' expects a {features: {…}} argument row"))
      val argFields = ft.map(_.fields.toSeq).getOrElse(Seq.empty)
      // default mode reads only TRAINED columns present in the arg;
      // bagOfWords emits every arg word, trained or not (tag_z → NaN)
      val cols: Seq[(String, Option[org.apache.spark.sql.types.StructField])] =
        if (mode == "bagOfWords")
          argFields.map(f => f.name -> Some(f)).sortBy(_._1)
        else keyCols.filter(c =>
          argFields.exists(_.name.equalsIgnoreCase(c)))
          .map(c => c -> argFields.find(_.name.equalsIgnoreCase(c)))
      val outCols = for {
        (o, oi) <- outcomeNames.zipWithIndex
        (c, fld) <- cols
        stat <- stats
      } yield {
        val table = tables.getOrElse(c, Map.empty)
        val expr: org.apache.spark.sql.Column =
          if (mode == "bagOfWords") {
            // presence keyed: the word's single entry or empty stats
            val st = table.get(None).map(_(oi)).getOrElse(DistStats.empty)
            lit(DistStats.pick(st, stat))
          } else {
            val nullStat = table.get(None).map(_(oi))
              .getOrElse(DistStats.empty)
            val valued = table.collect { case (Some(v), ss) => v -> ss(oi) }
            val field = fld.map(f => fc.getField(f.name).cast("string"))
            val base =
              if (valued.isEmpty) lit(DistStats.pick(DistStats.empty, stat))
              else coalesce(element_at(
                map(valued.toSeq.flatMap { case (v, st) =>
                  Seq(lit(v), lit(DistStats.pick(st, stat)))
                }: _*), field.get),
                lit(DistStats.pick(DistStats.empty, stat)))
            field match {
              case Some(f) =>
                when(f.isNull, lit(DistStats.pick(nullStat, stat)))
                  .otherwise(base)
              case None => lit(DistStats.pick(nullStat, stat))
            }
          }
        expr.as(s"$o.$c.$stat")
      }
      struct(struct(outCols: _*).as("stats"))
    }
    compiledApplies.clear()
  }

  /** getStats functions by NAME → (modelFileUrl, emitted statistics) —
    * the realtime increment/persist routes re-register through this. */
  private val distFnConfigs = TrieMap[String, (String, Seq[String])]()

  /** POST /v1/functions/<fn>/routes/increment (MLDB-1750
    * test_real_time): fold new outcome observations into the dist
    * table behind a getStats function and re-register it. Driver-side
    * by design — the realtime route is the reference's single-node
    * online-update surface; bulk updates belong in
    * experimental.distTable.train. */
  def distTableIncrement(fnName: String, keys: Seq[(String, String)],
      outcomes: Seq[Double]): Unit = {
    val (url, stats) = distFnConfigs.getOrElse(fnName,
      throw new NoSuchElementException(
        s"function '$fnName' is not a distTable.getStats function"))
    val (mode, outcomeNames, keyCols, tables) = distTableModels(url)
    require(outcomes.size == outcomeNames.size,
      s"expected ${outcomeNames.size} outcomes, got ${outcomes.size}")
    def add(s: DistStats, v: Double): DistStats = {
      val n = s.count + 1
      val avg0 = if (s.count == 0) 0.0 else s.avg
      val avg = avg0 + (v - avg0) / n
      // rebuild M2 from the stored sample std (NaN below 2 samples)
      val m2prev = if (s.count < 2) 0.0 else s.std * s.std * (s.count - 1)
      val m2 = m2prev + (v - avg0) * (v - avg)
      DistStats(n, (if (s.count == 0) 0.0 else s.sum) + v, avg,
        if (n < 2) Double.NaN else math.sqrt(m2 / (n - 1)),
        if (s.count == 0 || s.min.isNaN) v else math.min(s.min, v),
        if (s.count == 0 || s.max.isNaN) v else math.max(s.max, v),
        v)
    }
    val updated = keys.foldLeft(tables) { case (acc, (c, v)) =>
      val table = acc.getOrElse(c, throw new IllegalArgumentException(
        s"Unknown dist table '$c'"))
      val key = if (mode == "bagOfWords") None else Some(v)
      val prev = table.getOrElse(key,
        outcomeNames.map(_ => DistStats.empty): Seq[DistStats])
      acc.updated(c, table.updated(key,
        prev.zip(outcomes).map { case (s, o) => add(s, o) }))
    }
    distTableModels(url) = (mode, outcomeNames, keyCols, updated)
    createDistTableGetStatsFunction(fnName, url, Some(stats))
  }

  /** POST /v1/functions/<fn>/routes/persist: snapshot the function's
    * CURRENT table under another modelFileUrl so a new getStats can
    * load the updated counts (MLDB-1750's persist/reload pin). */
  def distTablePersist(fnName: String, newUrl: String): Unit = {
    val (url, _) = distFnConfigs.getOrElse(fnName,
      throw new NoSuchElementException(
        s"function '$fnName' is not a distTable.getStats function"))
    distTableModels(newUrl) = distTableModels(url)
  }

  /** `classifier.explain` as a REST-creatable function (MLDB-573):
    * per-feature contributions of one argument row —
    * `{bias, explanation: {<feature>: contribution}}`
    * (`plugins/jml/classifier.cc:1374-1446`). All plan-literal via
    * [[graft.ml.Models.explainColumns]]: glz credits w·x, trees
    * credit each split's prediction delta along the row's path. */
  def createClassifierExplainFunction(name: String, modelUrl: String): Unit = {
    rejectBuiltinName(name)
    val (specs, _, _, model) = clsModels.getOrElse(modelUrl,
      throw new NoSuchElementException(
        s"no classifier trained at '$modelUrl'"))
    import org.apache.spark.sql.functions._
    val internal = specs.indices.map(i => s"__f$i")
    columnFnRegistry(name) = graft.sql.Lowering.ColumnFn { args =>
      val (fc, ft, _) = args.getOrElse("features",
        throw new IllegalArgumentException(
          s"function '$name' expects a {features: {…}} argument row"))
      def feat(n: String): org.apache.spark.sql.Column =
        featSpecExpr(specs(internal.indexOf(n)), fc, ft)
      val (bias, contribs) =
        graft.ml.Models.explainColumns(model, internal, feat)
      struct(bias.as("bias"),
        struct(specs.zip(contribs).map { case (s, c) =>
          c.as(s.key)
        }: _*).as("explanation"))
    }
    compiledApplies.clear()
  }

  /** trained tfidf models by modelFileUrl: (word → document
    * frequency, corpus size). */
  private val tfidfModels = TrieMap[String, (Map[String, Long], Long)]()

  /** `tfidf` as a REST-creatable function
    * (`plugins/nlp/tfidf.cc:289-440`; testing/MLDB-1101-tf-idf.py):
    * scores the argument row's term counts as tf(term) · idf(term)
    * with the reference's tfType (raw | log | augmented) and idfType
    * (unary | inverse | inverseSmooth | inverseMax |
    * probabilisticInverse — `plugins/nlp/tfidf.cc:112-124` enum
    * spellings) formulas. The argument row's fields are static at the
    * call site, so the whole scoring is plan-literal — df lookups
    * resolve at lowering, maxFrequency/maxNt fold into greatest()
    * chains. */
  def createTfidfFunction(name: String, modelUrl: String,
      tfType: String = "raw", idfType: String = "inverseSmooth"): Unit = {
    rejectBuiltinName(name)
    if (!Set("raw", "log", "augmented").contains(tfType))
      throw new IllegalArgumentException(
        s"tfidf function '$name': unknown tfType '$tfType' " +
          "(expected raw | log | augmented)")
    if (!Set("unary", "inverse", "inverseSmooth", "inverseMax",
        "probabilisticInverse").contains(idfType))
      throw new IllegalArgumentException(
        s"tfidf function '$name': unknown idfType '$idfType' (expected " +
          "unary | inverse | inverseSmooth | inverseMax | " +
          "probabilisticInverse)")
    val (dfs, n) = tfidfModels.getOrElse(modelUrl,
      throw new NoSuchElementException(
        s"no tfidf model trained at '$modelUrl'"))
    import org.apache.spark.sql.functions._
    columnFnRegistry(name) = graft.sql.Lowering.ColumnFn { args =>
      val (ic, it, _) = args.getOrElse("input",
        throw new IllegalArgumentException(
          s"function '$name' expects an {input: {…}} argument row"))
      it match {
        case Some(st) =>
          // STRUCT input: the term set is static at the call site —
          // dfs fold to scalars, the whole row is plan-literal
          val terms = st.fieldNames.toSeq
          def cnt(t: String) =
            coalesce(ic.getField(t).cast("double"), lit(0.0))
          val maxFreq = terms.map(cnt).reduce(greatest(_, _))
          val maxNt = terms.map(t => dfs.getOrElse(t, 0L)).max.toDouble
          def tf(c: org.apache.spark.sql.Column) = tfType match {
            case "log" => log(lit(1.0) + c)
            case "augmented" => lit(0.5) + (lit(0.5) * c) / maxFreq
            case _ => c
          }
          def idf(docFreq: Double): Double = idfType match {
            case "unary" => 1.0
            case "inverse" => math.log(n / (1.0 + docFreq))
            case "inverseMax" => math.log(1.0 + maxNt / (1.0 + docFreq))
            case "probabilisticInverse" =>
              math.log((n - docFreq) / (1.0 + docFreq))
            case _ => math.log(1.0 + n / (1.0 + docFreq)) // inverseSmooth
          }
          struct(struct(terms.map { t =>
            (tf(cnt(t)) * idf(dfs.getOrElse(t, 0L).toDouble)).as(t)
          }: _*).as("output"))
        case None =>
          // MAP input (a tokenize bag): terms vary per row — the df
          // table embeds as a plan-literal map (vocabulary-sized; a
          // 100 TB-scale vocabulary belongs in a broadcast-join
          // pipeline, not a per-row function, so the embed is capped)
          require(dfs.size <= graft.sql.PlanTime.cap(spark),
            s"function '$name': vocabulary of ${dfs.size} words is too " +
              "large to inline — join against the tfidf outputDataset " +
              "instead")
          val dfMap =
            if (dfs.isEmpty) map()
            else map(dfs.toSeq.sortBy(_._1).flatMap { case (w, c) =>
              Seq(lit(w), lit(c.toDouble))
            }: _*)
          val keys = map_keys(ic)
          def dfOf(k: org.apache.spark.sql.Column) =
            coalesce(element_at(dfMap, k), lit(0.0))
          val maxFreq = array_max(transform(map_values(ic),
            v => v.cast("double")))
          val maxNt = coalesce(
            array_max(transform(keys, k => dfOf(k))), lit(0.0))
          def tf(c: org.apache.spark.sql.Column) = tfType match {
            case "log" => log(lit(1.0) + c)
            case "augmented" => lit(0.5) + (lit(0.5) * c) / maxFreq
            case _ => c
          }
          def idf(d: org.apache.spark.sql.Column) = idfType match {
            case "unary" => lit(1.0)
            case "inverse" => log(lit(n.toDouble) / (lit(1.0) + d))
            case "inverseMax" => log(lit(1.0) + maxNt / (lit(1.0) + d))
            case "probabilisticInverse" =>
              log((lit(n.toDouble) - d) / (lit(1.0) + d))
            case _ => log(lit(1.0) + lit(n.toDouble) / (lit(1.0) + d))
          }
          struct(map_from_entries(transform(keys, k =>
            struct(k.as("key"),
              (tf(element_at(ic, k).cast("double")) * idf(dfOf(k)))
                .as("value")))).as("output"))
      }
    }
    compiledApplies.clear()
  }

  /** `embedding.neighbors` as a REST-creatable function
    * (`plugins/embedding/embedding.cc:1420`;
    * testing/MLDB-283-embedding-nearest-neighbours.py): nearest
    * points of the configured embedding dataset. `coords` is either a
    * row of dimension values or a ROW NAME of the dataset;
    * numNeighbors / maxDistance are literal parameters. Output
    * `{distances: {<rowName>: dist}}` — the k nearest survive, like
    * the reference's dynamic columns. The point set embeds as plan
    * literals (PlanTime-capped — the function form is for
    * configuration-sized sets; corpus-scale kNN is
    * [[graft.operators.Similarity]]'s two-phase top-k). */
  def createEmbeddingNeighborsFunction(name: String,
      datasetName: String, defaultNum: Int = 100): Unit = {
    rejectBuiltinName(name)
    import org.apache.spark.sql.functions._
    val src0 = dataset(datasetName)
    val dims = src0.columns.filterNot(c =>
      c.equalsIgnoreCase("rowName") || c.startsWith("__")).toSeq
    val rnCol =
      if (src0.columns.exists(_.equalsIgnoreCase("rowName")))
        col("rowName").cast("string")
      else monotonically_increasing_id().cast("string")
    val pts = graft.sql.PlanTime.boundedRows(
      src0.select(rnCol.as("__rn") +:
        dims.map(c => col(s"`$c`").cast("double")): _*),
      graft.sql.PlanTime.cap(spark), s"embedding.neighbors($datasetName)")
      .map(r => r.getString(0) ->
        dims.indices.map(i => r.getDouble(i + 1)).toArray)
    columnFnRegistry(name) = graft.sql.Lowering.ColumnFn { args =>
      val (cc, ct, _) = args.getOrElse("coords",
        throw new IllegalArgumentException(
          s"function '$name' expects a {coords: …} argument"))
      import graft.sql.Ast._
      val k: org.apache.spark.sql.Column = args.get("numneighbors")
        .orElse(args.get("numNeighbors"))
        .map(_._1.cast("int")).getOrElse(lit(defaultNum))
      val maxDist = args.get("maxdistance").orElse(args.get("maxDistance"))
        .map(_._1.cast("double"))
      // the query point: a row of named dims, or a row NAME resolved
      // against the stored points via a literal CASE
      val qp: Seq[org.apache.spark.sql.Column] = ct match {
        case Some(st) => dims.map(d =>
          st.fields.find(_.name.equalsIgnoreCase(d)) match {
            case Some(f) =>
              coalesce(cc.getField(f.name).cast("double"), lit(0.0))
            case None => lit(0.0)
          })
        case None => dims.indices.map { i =>
          pts.foldRight(lit(Double.NaN): org.apache.spark.sql.Column) {
            case ((rn, v), rest) =>
              when(cc.cast("string") === rn, lit(v(i))).otherwise(rest)
          }
        }
      }
      // a row-NAME coords that matches no stored row must error, not
      // return a map of NaN distances (ADVICE r9)
      val unresolved: Option[org.apache.spark.sql.Column] = ct match {
        case None if pts.nonEmpty => Some(
          !pts.map(p => cc.cast("string") <=> p._1).reduce(_ || _))
        case _ => None
      }
      val entries = pts.map { case (rn, v) =>
        val d2 = dims.indices.map(i =>
          (qp(i) - v(i)) * (qp(i) - v(i))).reduce(_ + _)
        val dist = unresolved match {
          case Some(u) => when(u, raise_error(concat(
            lit(s"function '$name': unknown row '"), cc.cast("string"),
            lit(s"' in dataset '$datasetName'")))).otherwise(sqrt(d2))
          case None => sqrt(d2)
        }
        struct(dist.as("dist"), lit(rn).as("name"))
      }
      val sorted = array_sort(array(entries: _*))
      val kept0 = slice(sorted, lit(1), k)
      val kept = maxDist match {
        case Some(m) => filter(kept0, s => s.getField("dist") <= m)
        case None => kept0
      }
      struct(map_from_entries(transform(kept, s =>
        struct(s.getField("name").as("key"),
          s.getField("dist").as("value")))).as("distances"))
    }
    compiledApplies.clear()
  }

  /** `tokensplit` as a REST-creatable function
    * (`plugins/textual/tokensplit.cc`; testing/MLDB-1116-tokensplit.py):
    * the config's `tokens` QUERY supplies the special-token list
    * (emoticons — arbitrary UTF-8, so the list is bound natively
    * rather than round-tripped through dialect text); application
    * re-tokenizes the argument `text` so each configured token stands
    * alone, longest first. */
  def createTokensplitFunction(name: String, tokensQuery: String): Unit = {
    rejectBuiltinName(name)
    val df0 = query(tokensQuery)
    val df =
      if (df0.schema.headOption.exists(f =>
          f.name.equalsIgnoreCase("rowName") &&
            f.metadata.contains("graft.implicitRowName")))
        df0.drop(df0.columns.head)
      else df0
    val toks = graft.sql.PlanTime.boundedRows(df,
      JsHost.maxQueryRows, "tokensplit tokens")
      .flatMap(_.toSeq).collect { case s: String if s.nonEmpty => s }
      .distinct.toSeq
    import org.apache.spark.sql.functions._
    columnFnRegistry(name) = graft.sql.Lowering.ColumnFn { args =>
      val (tc, _, _) = args.getOrElse("text",
        throw new IllegalArgumentException(
          s"function '$name' expects a {text: …} argument row"))
      struct(graft.operators.TextAnalysis
        .tokensplit(tc.cast("string"), toks).as("text"))
    }
    compiledApplies.clear()
  }

  /** `gaussianclustering` as a REST-creatable function (MLDB-1353):
    * max-posterior cluster of the argument row — expanded to a pure
    * dialect CASE over plan-literal log-densities (same shape as the
    * kmeans function entity; missing dimensions read 0). */
  def createGaussianClusteringFunction(name: String, modelUrl: String): Unit = {
    rejectBuiltinName(name)
    val (cols, m) = gmmModels.getOrElse(modelUrl,
      throw new NoSuchElementException(
        s"no gaussianclustering model trained at '$modelUrl'"))
    def ref(c: String): String =
      if (c.forall(ch => ch.isLetterOrDigit || ch == '_')) s"embedding.$c"
      else "embedding.\"" + c + "\""
    def z(c: String): String =
      s"(CASE WHEN ${ref(c)} IS NULL THEN 0 ELSE ${ref(c)} END)"
    val k = m.weights.length
    val dim = cols.length
    // log-density as an expanded polynomial:
    //   logp_c(x) = C_c + L_c·x − ½ x'A_c x,
    //   L_c = A_c m_c,  C_c = logNorm_c − ½ m_c'A_c m_c.
    // Cluster comparisons then reduce to DIFFERENCE polynomials —
    // one coefficient per (i ≤ j) pair instead of the full quadratic
    // form twice, keeping the generated CASE text (and the lowered
    // plan) small.
    def lin(c: Int): Array[Double] = Array.tabulate(dim)(i =>
      (0 until dim).map(j => m.invCovs(c)(i)(j) * m.means(c)(j)).sum)
    def const(c: Int): Double = m.logNorms(c) -
      0.5 * (for (i <- 0 until dim; j <- 0 until dim)
        yield m.means(c)(i) * m.invCovs(c)(i)(j) * m.means(c)(j)).sum
    // diff text for logp_j − logp_o
    def diff(j: Int, o: Int): String = {
      val terms = Seq.newBuilder[String]
      terms += (const(j) - const(o)).toString
      val lj = lin(j); val lo = lin(o)
      for (i <- 0 until dim) {
        val cf = lj(i) - lo(i)
        if (math.abs(cf) > 1e-300) terms += s"$cf * ${z(cols(i))}"
      }
      for (i <- 0 until dim; jj <- i until dim) {
        val a = m.invCovs(j)(i)(jj) - m.invCovs(o)(i)(jj)
        val cf = if (i == jj) -0.5 * a else -a // symmetric fold
        if (math.abs(cf) > 1e-300)
          terms += s"$cf * ${z(cols(i))} * ${z(cols(jj))}"
      }
      terms.result().mkString("(", " + ", ")")
    }
    val diffs = (for (j <- 0 until k; o <- j + 1 until k)
      yield (j, o) -> diff(j, o)).toMap
    if (k == 1) createSqlExpressionFunction(name, "0 AS cluster")
    else {
      val whens = (0 until k - 1).map { j =>
        "WHEN " + (0 until k).filter(_ != j).map { o =>
          if (j < o) s"${diffs((j, o))} >= 0" else s"${diffs((o, j))} <= 0"
        }.mkString(" AND ") + s" THEN $j"
      }.mkString(" ")
      createSqlExpressionFunction(name,
        s"CASE $whens ELSE ${k - 1} END AS cluster")
    }
  }

  /** `kmeans` as a REST-creatable function (MLDB-285): assigns the
    * nearest trained centroid to the argument row — expanded to a pure
    * dialect CASE over plan-literal squared distances (zero UDFs,
    * codegen'd; missing dimensions read 0 like svd.embedRow). */
  def createKmeansFunction(name: String, modelUrl: String): Unit = {
    val (cols, centers) = kmeansModels.getOrElse(modelUrl,
      throw new NoSuchElementException(
        s"no kmeans model trained at '$modelUrl'"))
    def ref(c: String): String =
      if (c.forall(ch => ch.isLetterOrDigit || ch == '_')) s"embedding.$c"
      else "embedding.\"" + c + "\""
    def z(c: String): String =
      s"(CASE WHEN ${ref(c)} IS NULL THEN 0 ELSE ${ref(c)} END)"
    val dists = centers.map { ctr =>
      cols.zip(ctr).map { case (c, v) =>
        s"(${z(c)} - $v) * (${z(c)} - $v)"
      }.mkString("(", " + ", ")")
    }
    // k = 1 has zero WHEN branches — a bare `CASE ELSE 0 END` is not
    // parseable; every row is cluster 0 by definition.
    if (centers.length == 1)
      createSqlExpressionFunction(name, "0 AS cluster")
    else {
      val whens = (0 until centers.length - 1).map { j =>
        "WHEN " + (0 until centers.length).filter(_ != j)
          .map(o => s"${dists(j)} <= ${dists(o)}").mkString(" AND ") +
          s" THEN $j"
      }.mkString(" ")
      createSqlExpressionFunction(name,
        s"CASE $whens ELSE ${centers.length - 1} END AS cluster")
    }
  }

  /** The structured inputData form ({select, named, from: {id}, when,
    * where, groupBy, having, orderBy, limit, offset} —
    * MLDB-1104/788/1127/409, MLDBFB-332) assembled from its parts
    * into dialect text; shared by transform / svd.train /
    * kmeans.train. A FROM-less form (`select` with no `from`) is legal
    * for constant transforms (MLDB-409's no-FROM battery). */
  private def structuredInput(param: String => Option[String]): Option[String] =
    param("select").map { sel =>
      val sb = new StringBuilder(s"SELECT $sel")
      param("named").foreach(n => sb ++= s" NAMED $n")
      param("from").foreach(frm => sb ++= s""" FROM "$frm"""")
      param("when").foreach(w => sb ++= s" WHEN $w")
      param("where").foreach(w => sb ++= s" WHERE $w")
      param("groupBy").foreach(g => sb ++= s" GROUP BY $g")
      param("having").foreach(h => sb ++= s" HAVING $h")
      param("orderBy").foreach(o => sb ++= s" ORDER BY $o")
      param("limit").foreach(l => sb ++= s" LIMIT $l")
      param("offset").foreach(o => sb ++= s" OFFSET $o")
      sb.toString
    }

  /** `svd.embedRow` as a REST-creatable function (MLDB-805/498):
    * resolves the trained model at modelFileUrl and expands to a pure
    * dialect expression — each output dimension is the dot product of
    * the argument row's trained columns with that basis vector, as
    * plan literals (zero UDFs, codegen'd; missing columns read 0, the
    * sparse-row contract MLDB-485 exercises). A string column trained
    * as one-hots re-applies its COL_EQUAL ops at embed time — the
    * argument row carries the RAW string, and `petalCat = 'long'`
    * reads 1/0 like the reference (`plugins/embedding/svd.cc:836`,
    * MLDB-1937). */
  def createSvdEmbedFunction(name: String, modelUrl: String,
      maxSingularValues: Int = Int.MaxValue): Unit = {
    rejectBuiltinName(name)
    val (cols, svd, kept) = svdModels.getOrElse(modelUrl,
      throw new NoSuchElementException(s"no svd model trained at '$modelUrl'"))
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val pc = svd.model.pc
    val n = math.min(kept, maxSingularValues)
    // trained source columns: the one-hot specs fold back onto their
    // string column for the reference's input-type validation
    // (`plugins/embedding/svd.cc:255-298`, MLDB-534's error battery)
    val catsByCol: Map[String, Set[String]] = cols
      .filter(_.category.isDefined)
      .groupBy(_.column.toLowerCase)
      .map { case (c, ss) => c -> ss.flatMap(_.category).toSet }
    val numericCols: Set[String] = cols.filter(_.category.isEmpty)
      .map(_.column.toLowerCase).toSet
    columnFnRegistry(name) = graft.sql.Lowering.ColumnFn { args =>
      val (rc, rt, raw) = args.getOrElse("row",
        throw new IllegalArgumentException(
          s"function '$name' expects a {row: {…}} argument"))
      // reference validation at bind time: a string value for a
      // numeric-trained column / a number for a string-trained one is
      // a 400, not a silent 0 (MLDB-534)
      def litValueOf(fieldName: String): Option[String] = raw match {
        case graft.sql.Ast.StructLit(fs) => fs.collectFirst {
          case (k, graft.sql.Ast.StrLit(s)) if k.equalsIgnoreCase(fieldName) => s
        }
        case _ => None
      }
      rt.foreach(_.fields.foreach { f =>
        val key = f.name.toLowerCase
        val isStringInput = f.dataType == StringType
        val isNumericInput = f.dataType.isInstanceOf[NumericType] ||
          f.dataType == BooleanType
        if (numericCols.contains(key) && isStringInput)
          throw new IllegalArgumentException(
            s"Column '${f.name}' passed as a string value" +
              litValueOf(f.name).map(v => s" \"$v\"").getOrElse("") +
              " but only numbers were seen in training")
        catsByCol.get(key).foreach { cats =>
          if (isNumericInput && !numericCols.contains(key))
            throw new IllegalArgumentException(
              s"Column '${f.name}' was a string in training but has " +
                "numeric value when passed to SVD")
          litValueOf(f.name).filterNot(cats).foreach { v =>
            throw new IllegalArgumentException(
              s"Column '${f.name}' passed a value \"$v\" that was " +
                "never seen in training when passed to SVD")
          }
        }
      })
      def fieldOf(cn: String): Option[org.apache.spark.sql.Column] =
        rt.flatMap(_.fields.find(_.name.equalsIgnoreCase(cn)))
          .map(f => rc.getField(f.name))
      // COL_EQUAL ops re-apply at embed time: the argument row carries
      // the RAW string column, and the one-hot dimension reads
      // `col = 'value'` as 1/0 (`svd.cc:836`; closes the NOTES_r9
      // string-one-hot divergence)
      def term(s: FeatSpec): org.apache.spark.sql.Column = s.category match {
        case Some(v) => fieldOf(s.column)
          .map(c => when(c.cast("string") === v, 1.0).otherwise(0.0))
          .getOrElse(lit(0.0))
        case None => fieldOf(s.column)
          .map(c => coalesce(c.cast("double"), lit(0.0)))
          .getOrElse(lit(0.0))
      }
      val terms = cols.map(term)
      val dims = (0 until n).map { j =>
        cols.indices.map(i => terms(i) * pc(i, j)).reduce(_ + _)
      }
      struct(array(dims: _*).as("embedding"))
    }
    compiledApplies.clear()
  }

  // ---- procedure types (/v1/procedures, /v1/types/procedures) -------------

  /** One call of a procedure type: the name it was called by, its
    * config's params as parsed values (`ProcJson.lookup`), the id of
    * the procedure entity that runs it, and the param reads the run
    * bodies share. */
  private[api] final class ProcCall(val tpe: String,
      val json: String => Option[graft.js.JsInterp.JsVal],
      val entityId: Option[String]) {
    def param(k: String): Option[String] = json(k).map(ProcJson.paramString)
    def req(k: String): String = param(k).getOrElse(
      throw new IllegalArgumentException(s"procedure '$tpe' needs param '$k'"))
    /** The reference's error for a run without its input query
      * (MLDB-2119). */
    def undefined(what: String): Nothing =
      throw new IllegalArgumentException(s"You need to define $what")
    /** The input query under `key`: its text, or the structured
      * {select, from, …} form read from its own object. */
    def input(key: String): Option[String] = json(key).map {
      case o: graft.js.JsInterp.JsObjV =>
        structuredInput(ProcJson.params(o))
          .getOrElse(ProcJson.paramString(o))
      case v => ProcJson.paramString(v)
    }
    /** `input(key)`, else the structured form from the config's own
      * flat keys (the engine API's `select`/`from` params). */
    def inputQuery(key: String, what: String): String =
      input(key).orElse(structuredInput(param)).getOrElse(undefined(what))
    def inputQuery(key: String): String = inputQuery(key, key)
    /** Param `k` as a JSON value; an engine-API string param holding
      * JSON text is parsed, other text stays a string. */
    def jsonValue(k: String): Option[graft.js.JsInterp.JsVal] = json(k).map {
      case graft.js.JsInterp.JsStr(t) => scala.util.Try(ProcJson.parse(t))
        .getOrElse(graft.js.JsInterp.JsStr(t))
      case v => v
    }
    def scriptSource: String =
      ProcJson.scriptSource(json).getOrElse(req("source"))
    /** `bucketize`'s `percentileBuckets` ranges, parsed once: its
      * creation-time check parses them, its run body reuses them. */
    lazy val percentileBuckets: Seq[(String, Double, Double)] =
      parsePercentileBuckets(jsonValue("percentileBuckets").getOrElse(
        throw new IllegalArgumentException(
          "bucketize needs percentileBuckets")))
    def pgConfig: graft.sources.Postgres.PgConfig =
      graft.sources.Postgres.PgConfig(
        req("host"), param("port").map(_.toInt).getOrElse(5432),
        param("database").getOrElse("postgres"),
        param("user").getOrElse("postgres"),
        param("password").getOrElse(""))
    def mongoConfig: graft.sources.Mongo.MongoConfig =
      graft.sources.Mongo.MongoConfig(req("host"),
        param("port").map(_.toInt).getOrElse(27017))
    /** Register `df` as the run's output dataset; `fallbackName` is a
      * type's own output key (xlsx's `output`). */
    def registerOut(df: DataFrame,
        fallbackName: Option[String] = None): String = {
      // outputDataset may be a plain id, an {id} object, or an id-LESS
      // typed object ({type: "beh.mutable", params: {dataFileUrl}} —
      // MLDB-1254's anonymous output)
      val typed = json("outputDataset")
        .collect { case o: graft.js.JsInterp.JsObjV => o }
      val name = typed match {
        case Some(o) => ProcJson.str(o, "id").getOrElse("auto_" +
          java.util.UUID.randomUUID().toString.replace("-", "").take(12))
        case None => param("outputDataset").orElse(fallbackName)
          .getOrElse(throw new IllegalArgumentException(
            s"procedure '$tpe' needs param 'outputDataset'"))
      }
      createDataset(name, df)
      // a beh.mutable output with a dataFileUrl persists at once —
      // the reference's procedure commit (MLDB-1254's save → reload)
      typed.foreach { o =>
        val t = ProcJson.str(o, "type")
        val u = ProcJson.field(o, "params").flatMap(ProcJson.str(_, "dataFileUrl"))
        if (t.exists(_.startsWith("beh")) && u.isDefined) {
          val url = u.get
          if (!url.contains("://")) throw new IllegalArgumentException(
            s"dataFileUrl '$url' has no protocol (file:// expected)")
          behBacked(name) = (url.stripPrefix("file://"),
            t.get.stripSuffix(".mutable"))
          commitDataset(name)
        }
      }
      s"""{"outputDataset": "$name", "rowCount": ${df.count()}}"""
    }
  }

  /** One procedure type, registered once like the reference's typed
    * procedure config (`core/procedure.h`): its run body, whether its
    * input query must name a source, any other creation-time check, its
    * async progress steps (MLDB-1570/2110; empty = one `executing` step),
    * the config struct name `/v1/types/procedures/<t>/info` pins
    * (empty = derived from the type name) and the other names it is
    * registered under. */
  private[api] final class ProcedureType(val run: ProcCall => String,
      val needsFrom: Boolean, val check: ProcCall => Unit,
      val steps: Seq[(String, String)], val configType: Option[String],
      val aliases: Seq[String])

  private def proc(needsFrom: Boolean = false,
      check: ProcCall => Unit = _ => (), steps: Seq[(String, String)] = Nil,
      configType: Option[String] = None, aliases: Seq[String] = Nil)(
      run: ProcCall => String) =
    new ProcedureType(run, needsFrom, check, steps, configType, aliases)

  /** Creation-time config validation (PUT /v1/procedures/<name>): the
    * reference validates the config object itself before any run. An
    * unknown type is left to the run. */
  def validateProcedure(tpe: String,
      json: String => Option[graft.js.JsInterp.JsVal],
      id: Option[String]): Unit =
    procedureTypes.get(tpe).foreach(validate(_, new ProcCall(tpe, json, id)))

  private def validate(p: ProcedureType, call: ProcCall): Unit = {
    // the reference 400s a FROM-less input query at config-validation
    // time (MLDB-1258's battery of 11)
    if (p.needsFrom) {
      val q = Seq("trainingData", "inputData", "testingData", "exportData",
        "inputQuery").iterator.flatMap(call.input).nextOption()
      q.foreach { text =>
        val parsed = scala.util.Try(graft.sql.Parser.parse(text)).toOption
        if (parsed.exists(_.from.isEmpty)) throw new IllegalArgumentException(
          s"procedure '${call.tpe}' input query must contain a FROM clause")
      }
    }
    p.check(call)
  }

  /** Typed procedure dispatch — the reference's `PUT /v1/procedures`
    * config model (`{type, params}`): every entry path validates the
    * config, then runs the type's body. Returns a small JSON summary;
    * dataset-producing types register their result under
    * `outputDataset`. */
  def runProcedure(tpe: String, param: String => Option[String]): String =
    runProcedure(tpe, k => param(k).map(graft.js.JsInterp.JsStr), None)

  /** `runProcedure` over a parsed config (`ProcJson.lookup`), run by
    * the procedure entity `id` when it has one. */
  def runProcedure(tpe: String, json: String => Option[graft.js.JsInterp.JsVal],
      id: Option[String]): String = {
    val p = procedureTypes.getOrElse(tpe,
      throw new IllegalArgumentException(s"unknown procedure type '$tpe'"))
    val call = new ProcCall(tpe, json, id)
    validate(p, call)
    p.run(call)
  }

  /** Every procedure type this engine runs, keyed by type name; each
    * alias is one more key on the same entry. `/v1/types/procedures`,
    * creation validation and async progress all read it. */
  private[api] val procedureTypes: Map[String, ProcedureType] = {
    val table = Map[String, ProcedureType](
      "bucketize" -> proc(needsFrom = true,
          steps = Seq(("iterating", "percentile"), ("bucketizing", "percentile")),
          check = { call => import call._
            require(param("inputData").orElse(param("inputQuery")).nonEmpty,
              "You need to define inputData")
            percentileBuckets
            ()
          }) { call => import call._
        // `bucketize` with the reference's NAMED percentile ranges
        // (`bucketize_procedure.cc:120-240`): rows of the inputData in
        // its ORDER BY order are assigned buckets by index range; rows
        // outside every range are dropped; the bucket cell is stamped
        // with the input's latest timestamp. The input query is
        // augmented with `rowName() AS rowName` when absent so output
        // rows keep their names.
        // the check, run first, required one of the two
        val input = param("inputData").orElse(param("inputQuery")).get
        val buckets = percentileBuckets
        import graft.sql.Ast._
        val stmt = graft.sql.Parser.parse(input)
        val hasRn = stmt.items.exists {
          case SelectItem(_, Some(a)) => a.equalsIgnoreCase("rowName")
          case SelectItem(Star(_, _, _), _) => true // * carries rowName
          case _ => false
        }
        val stmt2 =
          if (hasRn) stmt
          else stmt.copy(items = stmt.items :+
            // builtin names are matched lowercase at lowering
            SelectItem(FnCall("rowname", Seq.empty), Some("rowName")))
        val df0b = queryStmt(stmt2)
        // a `*` over a dataset created without a rowName column (a
        // registered query result) expands to no rowName — synthesize
        // one from the sort position (MLDB-1043 test 9's empty input)
        val df =
          if (df0b.columns.exists(_.equalsIgnoreCase("rowName"))) df0b
          else df0b.withColumn("rowName",
            org.apache.spark.sql.functions.monotonically_increasing_id()
              .cast("string"))
        registerOut(graft.procedures.Procedures.bucketizeNamed(
          df, "rowName", buckets))
      },
      "transform" -> proc(steps = Seq(("iterating", "percentile")),
          configType = Some("MLDB::TransformDatasetConfig"),
          check = { call => import call._
            // the config's query must PARSE at creation — a broken
            // inputData 400s the PUT (MLDB-2112's 'SELECT x:BUG:1'),
            // though the entity itself still registers
            input("inputQuery").orElse(input("inputData"))
              .orElse(structuredInput(param))
              .foreach(q => graft.sql.Parser.parse(q))
          }) { call => import call._
        // the reference's config key is inputData; inputQuery stays as
        // an accepted alias. The STRUCTURED form
        // ({select, from: {id}, where, orderBy, limit, offset} —
        // MLDB-1104/788) assembles the dialect text from its parts.
        // Missing input uses the reference's message (MLDB-2119).
        val input = call.input("inputQuery")
          .getOrElse(inputQuery("inputData"))
        val out1 = query(input)
        // a no-FROM transform names its constant row 'result' unless
        // NAMED overrode it (MLDB-409's no-FROM battery)
        val out0 =
          if (out1.columns.exists(_.equalsIgnoreCase("rowName"))) out1
          else if (scala.util.Try(graft.sql.Parser.parse(input)).toOption
              .exists(_.from.isEmpty))
            out1.withColumn("rowName", org.apache.spark.sql.functions.lit("result"))
          else out1
        // skipEmptyRows drops rows whose every value cell is null
        // (`plugins/transform_procedure.cc`; MLDB-409's sparse test2)
        val out =
          if (!param("skipEmptyRows").exists(_.toBoolean)) out0
          else {
            import org.apache.spark.sql.functions._
            val valueCols = out0.columns.filterNot(c =>
              c.equalsIgnoreCase("rowName") || c.startsWith("__"))
            if (valueCols.isEmpty) out0
            else out0.filter(valueCols.map(c =>
              col(s"`$c`").isNotNull).reduce(_ || _))
          }
        registerOut(out)
      },
      "melt" -> proc() { call => import call._
        // `melt` over REST (`builtin/melt_procedure.cc:205`;
        // MLDB-1275): inputData selects a {to_fix} row carried on
        // every output row and a {to_melt} row whose cells become
        // (key, value) pairs — one output row per present cell, named
        // `<origRowName>.<key>`. keyColumnName / valueColumnName
        // rename the pair columns. A single explode over plan-literal
        // field names: no shuffle, no driver data pass.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types.StructType
        val input = inputQuery("inputData")
        val keyName = param("keyColumnName").getOrElse("key")
        val valName = param("valueColumnName").getOrElse("value")
        val stmt = graft.sql.Parser.parse(input)
        val stmt2 = stmt.copy(items = stmt.items :+ graft.sql.Ast.SelectItem(
          graft.sql.Ast.FnCall("rowname", Seq.empty), Some("__origRow")))
        val df0 = queryStmt(stmt2)
        def structFields(name: String): Seq[org.apache.spark.sql.types.StructField] =
          df0.schema.fields.find(_.name == name).map(_.dataType) match {
            case Some(st: StructType) => st.fields.toSeq
            case _ => Seq.empty
          }
        val meltFields = structFields("to_melt")
        require(meltFields.nonEmpty,
          "melt inputData must select a {to_melt} row to melt")
        val fixFields = structFields("to_fix")
        val vTypes = meltFields.map(_.dataType).distinct
        def vCast(c: org.apache.spark.sql.Column) =
          if (vTypes.length == 1) c else c.cast("string")
        val pairs = meltFields.map(f => struct(lit(f.name).as("__k"),
          vCast(col("to_melt").getField(f.name)).as("__v")))
        val fixCols = fixFields.map(f =>
          col("to_fix").getField(f.name).as(f.name))
        val exploded = df0.select(
          (col("__origRow") +: fixCols :+
            explode(array(pairs: _*)).as("__kv")): _*)
        registerOut(exploded
          .filter(col("__kv.__v").isNotNull)
          .select((concat(col("__origRow").cast("string"), lit("."),
            col("__kv.__k")).as("rowName") +:
            fixFields.map(f => col(s"`${f.name}`")) :+
            col("__kv.__k").as(keyName) :+
            col("__kv.__v").as(valName)): _*))
      },
      "import.text" -> proc(configType = Some("MLDB::ImportTextConfig"),
          ) { call => import call._
        // full ImportTextConfig surface over REST params
        // (`plugins/textual/importtext_procedure.cc:43-115`)
        def flag(k: String) = param(k).exists(_.toBoolean)
        val cfg = graft.sources.Sources.TextImportConfig(
          delimiter = param("delimiter").getOrElse(","),
          quoteChar = param("quoteChar").getOrElse("\""),
          encoding = param("encoding").getOrElse("UTF-8"),
          headers = param("hasHeaderRow").forall(_.toBoolean),
          headerNames = param("headers").toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
          autoGenerateHeaders = flag("autoGenerateHeaders"),
          ignoreBadLines = flag("ignoreBadLines"),
          ignoreExtraColumns = flag("ignoreExtraColumns"),
          allowMultiLines = flag("allowMultiLines"),
          limit = param("limit").map(_.toInt),
          offset = param("offset").map(_.toInt).getOrElse(0),
          preHeaderOffset = param("preHeaderOffset").map(_.toInt).getOrElse(0),
          skipLineRegex = param("skipLineRegex"),
          replaceInvalidCharactersWith = param("replaceInvalidCharactersWith"),
          processExcelFormulas = flag("processExcelFormulas"),
          select = param("select").getOrElse("*"),
          where = param("where").getOrElse("true"),
          named = param("named"),
          timestamp = param("timestamp"),
          structuredColumnNames = flag("structuredColumnNames"))
        registerOut(graft.sources.Sources.importText(spark,
          req("dataFileUrl"), cfg))
      },
      "import.json" -> proc() { call => import call._
        // full surface (testing/MLDB-1266-import_json.py): line-number
        // row names, select/where/named post-expressions, bad-line
        // handling, arrays encode|parse
        require(param("dataFileUrl").exists(_.nonEmpty),
          "dataFileUrl is a required property and must not be empty")
        registerOut(graft.sources.Sources.importJsonFull(spark,
          req("dataFileUrl"),
          select = param("select").getOrElse("*"),
          where = param("where").getOrElse("true"),
          named = param("named"),
          ignoreBadLines = param("ignoreBadLines").exists(_.toBoolean),
          arrays = param("arrays").getOrElse("encode")))
      },
      "import.xlsx" -> proc(
          aliases = Seq("experimental.import.xlsx")) { call => import call._
        // the reference registers the type as experimental.import.xlsx
        // (`plugins/tabular/xlsx_importer.cc`; MLDB-1011); the output
        // dataset id arrives as `output` there, `outputDataset` here
        registerOut(graft.sources.Xlsx.importXlsx(spark,
          req("dataFileUrl").stripPrefix("file://"),
          param("sheet").map(Seq(_))), fallbackName = param("output"))
      },
      "import.git" -> proc() { call => import call._
        // the reference takes file:// repository URLs (MLDB-1128's
        // config shape); the CLI walker wants the plain path
        registerOut(graft.sources.Git.importGit(spark,
          req("repository").stripPrefix("file://"),
          limit = param("limit").map(_.toInt)))
      },
      "import.sqlite" -> proc() { call => import call._
        registerOut(param("table") match {
          case Some(t) => graft.sources.Sqlite.importSqlite(spark, req("dataFileUrl"), t)
          case None => graft.sources.Sqlite.importSqliteSparse(spark, req("dataFileUrl"))
        })
      },
      "import.sentiwordnet" -> proc() { call => import call._
        registerOut(graft.sources.Sources.importSentiWordNet(spark, req("dataFileUrl")))
      },
      "postgresql.import" -> proc() { call => import call._
        // reference: plugins/postgresql — here the pure-JVM wire reader
        registerOut(param("query") match {
          case Some(q) => graft.sources.Postgres.importQuery(spark, pgConfig, q)
          case None => graft.sources.Postgres.importTable(spark, pgConfig,
            req("table"), param("partitionColumn"),
            param("numPartitions").map(_.toInt).getOrElse(1))
        })
      },
      "postgresql.export" -> proc() { call => import call._
        // the recorder direction: dataset → table, per-partition INSERTs
        val src = dataset(req("inputDataset"))
        graft.sources.Postgres.exportTable(src, pgConfig, req("table"),
          createTable = param("createTable").exists(_.toBoolean))
        s"""{"exported": "${req("table")}", "rowCount": ${src.count()}}"""
      },
      "mongodb.export" -> proc() { call => import call._
        val src = dataset(req("inputDataset"))
        graft.sources.Mongo.exportCollection(src, mongoConfig,
          param("database").getOrElse("db"), req("collection"))
        s"""{"exported": "${req("collection")}", "rowCount": ${src.count()}}"""
      },
      "mongodb.import" -> proc() { call => import call._
        // reference: plugins/mongodb — here the pure-JVM OP_MSG reader
        registerOut(graft.sources.Mongo.importCollection(spark, mongoConfig,
          param("database").getOrElse("db"), req("collection"),
          param("partitionField"),
          param("numPartitions").map(_.toInt).getOrElse(1)))
      },
      "export.csv" -> proc(needsFrom = true) { call => import call._
        // full surface (`plugins/textual/csv_export_procedure.cc`,
        // MLDB-1098): exportData QUERY (or a plain inputDataset),
        // headers / delimiter options; file:// URLs accepted
        val path = req("dataFileUrl").stripPrefix("file://")
        val df0csv = param("exportData").map(query)
          .getOrElse(dataset(req("inputDataset")))
        // an implicitly carried row name doesn't export (the
        // reference's export writes the selection alone — MLDB-2126's
        // x.a,x.b header pin)
        val df =
          if (df0csv.schema.headOption.exists(f =>
              f.name.equalsIgnoreCase("rowName") &&
                f.metadata.contains("graft.implicitRowName")))
            df0csv.drop(df0csv.columns.head)
          else df0csv
        graft.sources.Sources.exportCsv(df, path,
          delimiter = param("delimiter").getOrElse(","),
          headers = param("headers").forall(_.toBoolean))
        s"""{"exported": "$path"}"""
      },
      "export.shards" -> proc() { call => import call._
        // training-data delivery: token-budget shards + manifest
        val path = req("outputUrl")
        val man = graft.procedures.Procedures.exportShards(
          dataset(req("inputDataset")),
          param("idColumn").getOrElse("doc_id"),
          param("textColumn").getOrElse("text"),
          param("tokensPerShard").map(_.toLong).getOrElse(1000000L), path)
        val n = man.count()
        s"""{"exported": "$path", "shards": $n}"""
      },
      "tsne.train" -> proc(needsFrom = true,
          configType = Some("MLDB::TsneConfig")) { call => import call._
        // two input surfaces: the embedding-table form
        // (trainingDataset + vectorColumn) and the reference's
        // structured form ({from, limit, offset} over wide numeric
        // columns — testing/MLDB-1081 pins that limit/offset are
        // honored, deterministic, and validated)
        if (param("trainingDataset").nonEmpty) {
          val (emb, _) = graft.ml.Tsne.train(dataset(req("trainingDataset")),
            param("idColumn").getOrElse("rowName"),
            param("vectorColumn").getOrElse("embedding"))
          registerOut(emb)
        } else {
          import org.apache.spark.sql.functions._
          import org.apache.spark.sql.types._
          param("limit").foreach(l => require(l.toLong > 0,
            "tsne.train: limit must be a positive number of rows"))
          val baseQ = param("trainingData").getOrElse(
            s"""select ${param("select").getOrElse("*")} from "${req("from")}"""")
          val df0 = query(baseQ)
          val rnCol =
            if (df0.columns.exists(_.equalsIgnoreCase("rowName")))
              col("rowName").cast("string")
            else monotonically_increasing_id().cast("string")
          // a stable order makes runs reproducible (the reference
          // iterates its dataset in stored order; parquet scans have
          // no such guarantee, so sort on the row name)
          val sorted = df0.withColumn("__rn", rnCol).orderBy(col("__rn"))
          val off = param("offset").map(_.toLong).getOrElse(0L)
          if (off > 0) {
            val total = sorted.count()
            require(off < total,
              s"tsne.train: offset $off is beyond the input row count $total")
          }
          val windowed0 = if (off > 0) sorted.offset(off.toInt) else sorted
          val windowed = param("limit").map(l => windowed0.limit(l.toInt))
            .getOrElse(windowed0)
          val feats = df0.schema.fields.filter { f =>
            f.dataType.isInstanceOf[NumericType] &&
              !f.name.equalsIgnoreCase("rowName") && !f.name.startsWith("__")
          }.map(_.name).toSeq
          require(feats.nonEmpty, "tsne training data matched no columns")
          val vecDf = windowed.select(col("__rn").as("rowName"),
            array(feats.map(c => coalesce(col(s"`$c`").cast("double"),
              lit(0.0))): _*).as("__vec"))
          val (emb, _) = graft.ml.Tsne.train(vecDf, "rowName", "__vec")
          // rowOutputDataset is optional when the run only registers a
          // model/function (MLDB-926's functionName-only config)
          val outName0 = param("rowOutputDataset")
            .orElse(param("outputDataset"))
          if (outName0.isEmpty && param("functionName").isEmpty &&
              param("modelFileUrl").isEmpty)
            throw new IllegalArgumentException(
              "tsne.train needs rowOutputDataset")
          outName0.foreach(createDataset(_, emb))
          val outName = outName0.getOrElse("")
          // a t-SNE "function" exists but cannot embed NEW points —
          // applying it is a clear failure, exactly the reference's
          // behavior (testing/MLDB-284-tsne-apply-function.py expects
          // a 500, not a silent answer)
          param("functionName").foreach { fn =>
            columnFnRegistry(fn) = graft.sql.Lowering.ColumnFn { _ =>
              throw new IllegalArgumentException(
                "t-SNE functions cannot be applied to new points: the " +
                  "embedding is only defined for its training rows")
            }
          }
          s"""{"outputDataset": "$outName", "rowCount": ${emb.count()}}"""
        }
      },
      "svd.train" -> proc(needsFrom = true,
          configType = Some("MLDB::SvdConfig")) { call => import call._
        // `svd.train` (`plugins/embedding/svd.cc`): trainingData (text
        // or the structured {select, from, where, orderBy, offset,
        // limit} form — MLDB-1127) over the registered datasets; the
        // model persists under modelFileUrl for `svd.embedRow`
        // functions; rowOutputDataset / columnOutputDataset register
        // the projected rows/columns. Only singular dimensions with
        // non-negligible variance are KEPT — the reference emits the
        // effective rank, which MLDB-1127 pins (3 vs 2 independent
        // columns).
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.Column
        val input = call.input("trainingData")
          .getOrElse(inputQuery("inputData"))
        val df0raw = query(input)
        import org.apache.spark.sql.types._
        // string columns train as one-hot indicators named
        // `<col>.stringEquals.<value>` — the reference creates a sparse
        // column per string value seen (`plugins/embedding/svd.cc:815`,
        // pinned by testing/MLDB-1937-svd-with-complex-select.py); the
        // value set is a capped plan-time pass like every other
        // data-dependent schema
        val stringCols = df0raw.schema.fields.filter { f =>
          f.dataType == StringType &&
            !f.name.equalsIgnoreCase("rowName") && !f.name.startsWith("__")
        }.map(_.name).toSeq
        // (name, expression) pairs — the one-hots are NEVER
        // materialized as named columns because two values differing
        // only by case ('test' vs 'TEST') are distinct columns in the
        // reference but collide under Spark's case-insensitive
        // resolution; expressions sidestep name resolution entirely
        val oneHots: Seq[(FeatSpec, org.apache.spark.sql.Column)] =
          stringCols.flatMap { c =>
            graft.sql.PlanTime.keys(df0raw, col(s"`$c`"),
              s"svd.train stringEquals($c)").map(v =>
              FeatSpec(c, "VALUE_EQUALS", Some(v)) ->
                when(col(s"`$c`") === v, 1.0).otherwise(0.0))
          }
        val numericFeats = df0raw.schema.fields.filter { f =>
          f.dataType.isInstanceOf[NumericType] &&
            !f.name.equalsIgnoreCase("rowName") && !f.name.startsWith("__")
        }.map(_.name).toSeq
        val featCols: Seq[(FeatSpec, org.apache.spark.sql.Column)] =
          numericFeats.map(n =>
            FeatSpec(n, "VALUE", None) ->
              coalesce(col(s"`$n`").cast("double"), lit(0.0))) ++
          oneHots
        val feats = featCols.map(_._1)
        val df0 = df0raw
        // the reference's error shape for a selection matching nothing
        // numeric (MLDB-119's 'matched no columns')
        require(feats.nonEmpty, "svd training data matched no columns")
        val kReq = math.min(
          param("numSingularValues").map(_.toInt).getOrElse(100),
          param("numDenseBasisVectors").map(_.toInt).getOrElse(2000))
        val k = math.max(1, math.min(kReq, feats.length))
        val rnCol: Column =
          if (df0.columns.exists(_.equalsIgnoreCase("rowName")))
            col("rowName").cast("string")
          else monotonically_increasing_id().cast("string")
        val vecDf = df0.select(rnCol.as("rowName"),
          array(featCols.map(_._2): _*).as("__vec"))
        val svd = graft.ml.Models.svdTrain(vecDf.select(col("rowName"),
          col("__vec")), "__vec", k)
        val kept = math.max(1,
          svd.model.explainedVariance.toArray.count(_ > 1e-9))
        val url = param("modelFileUrl").getOrElse(s"__svd_model")
        svdModels(url) = (feats, svd, kept)
        // functionName auto-creates the svd.embedRow function
        // (MLDB-926's per-procedure convention)
        param("functionName").foreach(createSvdEmbedFunction(_, url))
        param("rowOutputDataset").foreach { id =>
          val proj = svd(vecDf)
          val rows = proj.select(col("rowName") +:
            (0 until kept).map(j => element_at(
              org.apache.spark.ml.functions.vector_to_array(col("svd")),
              j + 1).as(s"embedding.$j")): _*)
          createDataset(id, rows)
        }
        param("columnOutputDataset").foreach { id =>
          val pc = svd.model.pc
          // row names carry the reference's operation suffix
          // (`plugins/embedding/svd.cc:836`): a raw numeric column reads
          // `<col>.numericValue`; one-hot indicators already ARE the
          // `<col>.stringEquals.<value>` name
          val rows = feats.zipWithIndex.map { case (s, i) =>
            val rn = s.category match {
              case Some(v) => s"${s.column}.stringEquals.$v"
              case None => s"${s.column}.numericValue"
            }
            org.apache.spark.sql.Row.fromSeq(
              rn +: (0 until kept).map(j => pc(i, j)))
          }
          val schema = StructType(StructField("rowName", StringType) +:
            (0 until kept).map(j => StructField(s"embedding.$j", DoubleType)))
          createDataset(id, spark.createDataFrame(
            spark.sparkContext.parallelize(rows), schema))
        }
        s"""{"trained": "$url", "numSingularValues": $kept}"""
      },
      "kmeans.train" -> proc(needsFrom = true,
          configType = Some("MLDB::KmeansConfig")) { call => import call._
        // `kmeans.train` with centroidsDataset registration
        // (MLDB-1025's default-output contract: running the procedure
        // creates exactly the centroids dataset)
        import org.apache.spark.sql.functions._
        val input = inputQuery("trainingData", "inputData")
        val df0 = query(input)
        import org.apache.spark.sql.types._
        val feats = df0.schema.fields.filter { f =>
          f.dataType.isInstanceOf[NumericType] &&
            !f.name.equalsIgnoreCase("rowName") && !f.name.startsWith("__")
        }.map(_.name).toSeq
        require(feats.nonEmpty, "kmeans training data matched no columns")
        val kk = param("numClusters").map(_.toInt).getOrElse(10)
        val vecDf = df0.select(array(feats.map(c =>
          coalesce(col(s"`$c`").cast("double"), lit(0.0))): _*).as("__vec"))
        // k = 1 is below MLlib's k floor but legal in the reference:
        // the single centroid is the feature mean (one aggregate pass)
        val centers: Array[Array[Double]] =
          if (kk == 1) {
            val r = vecDf.agg(
              avg(element_at(col("__vec"), 1)),
              feats.indices.tail.map(i =>
                avg(element_at(col("__vec"), i + 1))): _*).head()
            Array(feats.indices.map(i =>
              if (r.isNullAt(i)) 0.0 else r.getDouble(i)).toArray)
          } else graft.ml.Models.kmeansTrain(vecDf, "__vec", kk)
            .model.clusterCenters.map(_.toArray)
        // modelFileUrl keys the trained centroids for the `kmeans`
        // FUNCTION entity (MLDB-285); functionName auto-creates it
        // (MLDB-665's config shape)
        param("modelFileUrl").foreach { url =>
          // an unwritable scheme is the reference's 400 (MLDB-926's
          // "not://a/valid/path" pin) — the registry accepts file://
          // URLs and bare keys only
          if ("^[a-z+]+://".r.findFirstIn(url).exists(
              _ != "file://"))
            throw new IllegalArgumentException(
              s"kmeans.train: cannot write model to '$url' " +
                "(unknown URL scheme)")
          kmeansModels(url) = (feats, centers)
        }
        param("functionName").foreach { fn =>
          // creating the function needs a persisted model — the
          // reference 400s a functionName without modelFileUrl
          // (MLDB-926)
          val url = param("modelFileUrl").getOrElse(
            throw new IllegalArgumentException(
              "kmeans.train: functionName requires a modelFileUrl"))
          createKmeansFunction(fn, url)
        }
        param("centroidsDataset").foreach { id =>
          val rows = centers.zipWithIndex.map {
            case (ctr, i) => org.apache.spark.sql.Row.fromSeq(
              i.toString +: ctr.toSeq)
          }
          val schema = StructType(StructField("rowName", StringType) +:
            feats.indices.map(j => StructField(s"c.$j", DoubleType)))
          createDataset(id, spark.createDataFrame(
            spark.sparkContext.parallelize(rows.toSeq), schema))
        }
        // outputDataset: per-row nearest-centroid assignment
        // (`kmeans_procedure`'s outputDataset — MLDB-1323's pipeline).
        // Plan-literal argmin over the trained centers: codegen'd
        // expression, no shuffle, every partition assigns in parallel.
        param("outputDataset").foreach { id =>
          val dists = centers.map { ctr =>
            feats.zip(ctr).map { case (c, v) =>
              val z = coalesce(col(s"`$c`").cast("double"), lit(0.0))
              (z - v) * (z - v)
            }.reduce(_ + _)
          }
          val cluster = (0 until centers.length - 1)
            .foldRight(lit(centers.length - 1)) { (j, rest) =>
              when(centers.indices.filter(_ != j)
                .map(o => dists(j) <= dists(o)).reduce(_ && _), lit(j))
                .otherwise(rest)
            }
          val rnCol =
            if (df0.columns.exists(_.equalsIgnoreCase("rowName")))
              col("rowName").cast("string")
            else monotonically_increasing_id().cast("string")
          createDataset(id, df0.select(rnCol.as("rowName"),
            cluster.cast("long").as("cluster")))
        }
        s"""{"trained": true, "numClusters": $kk}"""
      },
      "gaussianclustering.train" -> proc() { call => import call._
        // `gaussianclustering.train` (EM over gaussians,
        // `plugins/jml/em_interface.cc` / `em.cc`; pinned by
        // testing/MLDB-1353-EM.py): kmeans-seeded EM (see
        // Models.gmmTrain), outputDataset = per-row max-posterior
        // cluster, modelFileUrl keys the `gaussianclustering`
        // function entity.
        import org.apache.spark.sql.functions._
        val input = inputQuery("trainingData", "inputData")
        val df0 = query(input)
        import org.apache.spark.sql.types._
        val feats = df0.schema.fields.filter { f =>
          f.dataType.isInstanceOf[NumericType] &&
            !f.name.equalsIgnoreCase("rowName") && !f.name.startsWith("__")
        }.map(_.name).toSeq
        require(feats.nonEmpty,
          "gaussianclustering training data matched no columns")
        val kk = param("numClusters").map(_.toInt).getOrElse(10)
        val withVec = df0.withColumn("__vec", array(feats.map(c =>
          coalesce(col(s"`$c`").cast("double"), lit(0.0))): _*))
        val m = graft.ml.Models.gmmTrain(withVec, "__vec", kk)
        param("modelFileUrl").foreach(url => gmmModels(url) = (feats, m))
        param("outputDataset").foreach { id =>
          val rnCol =
            if (df0.columns.exists(_.equalsIgnoreCase("rowName")))
              col("rowName").cast("string")
            else monotonically_increasing_id().cast("string")
          createDataset(id, m(withVec).select(rnCol.as("rowName"),
            col("cluster").cast("long").as("cluster")))
        }
        s"""{"trained": true, "numClusters": $kk}"""
      },
      "classifier.train" -> proc(needsFrom = true,
          configType = Some("MLDB::ClassifierConfig")) { call => import call._
        // `classifier.train` as a REST procedure
        // (`plugins/jml/classifier.cc`): trainingData selects
        // `{…} as features, <expr> as label`; mode ∈ boolean |
        // categorical | regression; modelFileUrl keys the model for
        // the `classifier` function entity; functionName auto-creates
        // it (MLDB-647's whole flow).
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types._
        val input = inputQuery("trainingData")
        // a column cannot be both the label and a feature
        // (testing/MLDB-2188-label_feature_validation.py's message)
        scala.util.Try(graft.sql.Parser.parse(input)).toOption.foreach { stmt =>
          import graft.sql.Ast._
          val feats0 = stmt.items.collectFirst {
            case SelectItem(StructLit(fs), Some(a))
                if a.equalsIgnoreCase("features") => fs
          }.getOrElse(Nil)
          val label0 = stmt.items.collectFirst {
            case SelectItem(Ident(Seq(l)), Some(a))
                if a.equalsIgnoreCase("label") => l
          }
          label0.foreach { l =>
            val clash = feats0.exists {
              case (_, Ident(Seq(n))) => n.equalsIgnoreCase(l)
              case (n, _) => n.equalsIgnoreCase(l)
            }
            require(!clash, s"Dataset column '$l' cannot be used in " +
              "both label and feature")
          }
        }
        val df0 = query(input)
        val mode = param("mode").getOrElse("boolean")
        val featField = df0.schema.fields
          .find(_.name.equalsIgnoreCase("features"))
          .filter(_.dataType.isInstanceOf[StructType])
          .getOrElse(throw new IllegalArgumentException(
            "classifier.train expects a row named 'features' and a " +
              "scalar named 'label' in trainingData"))
        require(df0.columns.exists(_.equalsIgnoreCase("label")),
          "classifier.train expects a row named 'features' and a " +
            "scalar named 'label' in trainingData")
        // feature specs: numeric columns read as VALUE; STRING columns
        // one-hot as VALUE_EQUALS per observed category (the
        // reference's feature-extraction ops — MLDB-961 pins both in
        // /details, MLDB-2181 pins unseen-category robustness). The
        // category sets are PlanTime-capped driver collects
        // (config-sized — corpus-scale categorical features belong in
        // feature_hasher pipelines).
        val featStruct = featField.dataType.asInstanceOf[StructType]
        val specs: Seq[FeatSpec] = featStruct.fields.toSeq.flatMap { f =>
          f.dataType match {
            case StringType =>
              val cats = graft.sql.PlanTime.keys(
                df0.select(col("features").getField(f.name).as("__c"))
                  .filter(col("__c").isNotNull),
                col("__c"), s"classifier.train one-hot(${f.name})").sorted
              if (cats.isEmpty) Seq(FeatSpec(f.name, "VALUE", None))
              else cats.map(c => FeatSpec(f.name, "VALUE_EQUALS", Some(c)))
            case _ => Seq(FeatSpec(f.name, "VALUE", None))
          }
        }
        def trainExpr(s: FeatSpec): org.apache.spark.sql.Column =
          s.category match {
            case Some(c) =>
              when(col("features").getField(s.column).cast("string") === c,
                lit(1.0)).otherwise(lit(0.0))
            case None => coalesce(
              col("features").getField(s.column).cast("double"), lit(0.0))
          }
        val internal = specs.indices.map(i => s"__f$i")
        // algorithm from the explicit param or the configuration's
        // type. When `algorithm` names a KEY of the configuration
        // object (the reference's model: algorithm selects a config
        // entry whose `type` is the learner — MLDB-779's bdt/bs
        // entries), that entry's type wins over the key name.
        val algo0 = param("algorithm").getOrElse {
          val cfg = param("configuration").getOrElse("")
          if (cfg.contains("decision_tree")) "dt"
          else if (cfg.contains("random_forest") || cfg.contains("bagg"))
            "bagging"
          else if (cfg.contains("naive_bayes")) "naive_bayes"
          else if (cfg.contains("boost")) "boosting"
          else "glz"
        }
        val algo = json("configuration").flatMap(ProcJson.field(_, algo0))
          .flatMap(ProcJson.str(_, "type")).getOrElse(algo0)
        // the optional example-weight column (`weight` sub-select —
        // MLDB-198 varies it and pins the score ordering)
        val weightCol = df0.schema.fields
          .find(_.name.equalsIgnoreCase("weight")).map(_.name)
        // rows with a NULL label don't train (MLDB-429 records one
        // and expects training to succeed)
        val flat = df0.select(specs.zip(internal).map { case (s, n) =>
          trainExpr(s).as(n)
        } ++ weightCol.map(w => col(s"`$w`").cast("double").as("__w"))
          :+ col("label"): _*)
          .filter(col("label").isNotNull)
        val wOpt = weightCol.map(_ => "__w")
        // the reference's two distinct empty-training errors
        // (`plugins/jml/classifier.cc:799-820`; MLDB-587 pins both)
        if (flat.limit(1).isEmpty) {
          val srcEmpty = scala.util.Try(graft.sql.Parser.parse(input))
            .toOption.flatMap(_.from)
            .collect { case graft.sql.Ast.TableRef(n, _) => n }
            .exists(n => scala.util.Try(
              dataset(n).limit(1).isEmpty).getOrElse(false))
          if (srcEmpty) throw new IllegalArgumentException(
            "Error training classifier: No feature vectors were " +
              "produced as dataset was empty")
          else throw new IllegalArgumentException(
            "Error training classifier: No feature vectors were " +
              "produced as all rows were filtered by WHEN, WHERE, " +
              "OFFSET or LIMIT, or all labels were NULL (or label " +
              "column doesn't exist)")
        }
        val (labels, model) = mode match {
          case "regression" =>
            val train = flat.withColumn("__y", col("label").cast("double"))
            (Seq.empty[String],
              graft.ml.Models.regressionTrain(train, internal, "__y", algo,
                weightCol = wOpt))
          case "categorical" =>
            val ls = graft.sql.PlanTime.keys(flat,
              col("label").cast("string"), "classifier.train labels").sorted
            val idx = ls.zipWithIndex.foldLeft(lit(-1.0)) {
              case (acc, (l, i)) =>
                when(col("label").cast("string") === l, i.toDouble)
                  .otherwise(acc)
            }
            val train = flat.withColumn("__y", idx)
            (ls, graft.ml.Models.classifierTrainCategorical(
              train, internal, "__y", algo, weightCol = wOpt))
          case _ =>
            val train = flat.withColumn("__y",
              col("label").cast("boolean").cast("double"))
            (Seq("false", "true"),
              graft.ml.Models.classifierTrain(train, internal, "__y", algo,
                weightCol = wOpt))
        }
        val url = param("modelFileUrl").getOrElse("__cls_model")
        clsModels(url) = (specs, mode, labels, model)
        param("functionName").foreach(createClassifierFunction(_, url))
        s"""{"trained": "$url", "mode": "$mode", "algorithm": "$algo"}"""
      },
      "classifier.test" -> proc(needsFrom = true,
          configType = Some("MLDB::AccuracyConfig"),
          check = { call => import call._
            // an empty config 400s with the reference's message (MLDB-804)
            require(param("testingData").nonEmpty || param("select").nonEmpty,
              "classifier.test expects a scalar named 'score' and a " +
                "scalar named 'label'")
          }) { call => import call._
        // `classifier.test` (`plugins/jml/accuracy.cc`): testingData
        // selects `<score expr> as score, <label expr> as label`
        // (boolean/regression) or a classifier-output row as score
        // (categorical). Returns the reference's status fields: auc,
        // r2, labelStatistics.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types._
        val input = call.input("testingData")
          .orElse(structuredInput(param))
          .getOrElse(
            throw new IllegalArgumentException("classifier.test expects a " +
              "scalar named 'score' and a scalar named 'label'"))
        val df0 = query(input)
        // the reference refuses an empty test set up front
        // (classifier_test_err_on_empty_sets: LIMIT 0, large OFFSET,
        // unmatched WHERE all raise the same message)
        if (df0.isEmpty) throw new IllegalArgumentException(
          "Cannot run classifier.test procedure on empty test set")
        val mode = param("mode").getOrElse("boolean")
        def need(c: String): StructField = df0.schema.fields
          .find(_.name.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException("classifier.test expects " +
              "a scalar named 'score' and a scalar named 'label'"))
        mode match {
          case "regression" =>
            need("score"); need("label")
            val r2 = graft.ml.Models.r2Score(df0, "score", "label")
            s"""{"r2": $r2}"""
          case "categorical" =>
            // score is the classifier function's output row
            // ({scores.<label>: p}); prediction = the max-probability
            // label
            val st = need("score").dataType match {
              case s: StructType =>
                s.fields.find(_.name.equalsIgnoreCase("scores"))
                  .map(_.dataType) match {
                  case Some(inner: StructType) => ("score.scores", inner)
                  case _ => ("score", s)
                }
              case _ => throw new IllegalArgumentException(
                "categorical classifier.test expects a row of scores " +
                  "named 'score'")
            }
            val (path, inner) = st
            val labels2 = inner.fieldNames.toSeq
            val pred = labels2.tail.foldLeft(
              (lit(labels2.head), col(s"$path.`${labels2.head}`"))) {
              case ((bestL, bestP), l) =>
                val p = col(s"$path.`$l`")
                (when(p > bestP, lit(l)).otherwise(bestL),
                  greatest(p, bestP))
            }._1
            val scored = df0.withColumn("__pred", pred)
            val stats = graft.ml.Models.categoricalLabelStats(
              scored, "label", "__pred")
            val statsJson = stats.toSeq.sortBy(_._1).map { case (l, s) =>
              val ln = l.replace("\"", "\\\"")
              s""""$ln": {"accuracy": ${s.accuracy}, "precision": ${s.precision}, """ +
                s""""recall": ${s.recall}, "f1Score": ${s.f1Score}, """ +
                s""""support": ${s.support}}"""
            }.mkString("{", ", ", "}")
            s"""{"labelStatistics": $statsJson}"""
          case _ =>
            need("score"); need("label")
            val prepared = df0.select(
              col("score").cast("double").as("__s"),
              col("label").cast("boolean").cast("double").as("__l"))
            val auc = new org.apache.spark.ml.evaluation
              .BinaryClassificationEvaluator()
              .setLabelCol("__l").setRawPredictionCol("__s")
              .setMetricName("areaUnderROC").evaluate(prepared)
            // outputDataset: per-row score/label/weight with the
            // reference's `index` rank (score descending —
            // MLDB-59/592 read it back ordered by index). The rank is
            // partition-offset numbering (DfOps.globalRowNumber), not
            // Window.orderBy — no SinglePartition exchange.
            param("outputDataset").foreach { id =>
              val base = df0.select(
                col("score").cast("double").as("score"),
                col("label").cast("boolean").as("label"))
                .withColumn("weight", lit(1.0))
              createDataset(id, graft.core.DfOps.globalRowNumber(
                base, Seq(col("score").desc), "index"))
            }
            s"""{"auc": $auc}"""
        }
      },
      "null" -> proc(aliases = Seq("mock")) { _ =>
        // `null` / `mock` procedures (`builtin/basic_procedures.cc`):
        // do nothing, successfully (MLDB-326's run-id battery runs
        // against the null procedure)
        """{"status": "done"}"""
      },
      "createEntity" -> proc() { call => import call._
        // `createEntity` (`builtin/basic_procedures.cc:182-272`;
        // MLDB-985): create an entity from a procedure run and answer
        // its kind/config/status
        val kind = req("kind")
        val tpe = req("type")
        kind match {
          case "dataset" =>
            val id = param("id").getOrElse("auto_" +
              java.util.UUID.randomUUID().toString.replace("-", "").take(12))
            createDatasetTyped(id, tpe, param)
            val df = dataset(id)
            val rc = scala.util.Try(df.count()).getOrElse(0L)
            s"""{"status": {"config": {"type": ${jsonQ(tpe)}}, """ +
              s""""kind": "dataset", "status": {"rowCount": $rc, """ +
              s""""columnCount": ${df.columns.length}}}, """ +
              s""""id": ${jsonQ(id)}}"""
          case other => throw new IllegalArgumentException(
            s"createEntity kind '$other' is not supported (dataset only)")
        }
      },
      "svm.train" -> proc(needsFrom = true) { call => import call._
        // `svm.train` (`plugins/svm/svm.cc:464`; MLDB-991): the
        // trainingData's numeric columns minus `label` are the
        // embedding; labels are arbitrary values. One-vs-rest linear
        // SVMs stand in for libsvm (configuration.kernel accepted,
        // linear substitutes — documented divergence).
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types._
        val input = inputQuery("trainingData")
        val df0 = query(input)
        require(df0.columns.exists(_.equalsIgnoreCase("label")),
          "svm.train expects a 'label' column in trainingData")
        val feats = df0.schema.fields.filter { f =>
          f.dataType.isInstanceOf[NumericType] &&
            !f.name.equalsIgnoreCase("rowName") &&
            !f.name.equalsIgnoreCase("label") && !f.name.startsWith("__")
        }.map(_.name).toSeq
        require(feats.nonEmpty, "svm training data matched no columns")
        val flat = df0.filter(col("label").isNotNull)
        val ls = graft.sql.PlanTime.keys(flat,
          col("label").cast("string"), "svm.train labels").sorted
        val idx = ls.zipWithIndex.foldLeft(lit(-1.0)) {
          case (acc, (l, i)) =>
            when(col("label").cast("string") === l, i.toDouble)
              .otherwise(acc)
        }
        val train = flat.select(feats.map(c =>
          coalesce(col(s"`$c`").cast("double"), lit(0.0)).as(c)) :+
          idx.as("__y"): _*)
        val model = graft.ml.Models.svmTrain(train, feats, "__y")
        val url = param("modelFileUrl").getOrElse("__svm_model")
        svmModels(url) = (feats, ls, graft.ml.Models.svmMargins(model))
        param("functionName").foreach(createSvmFunction(_, url))
        s"""{"trained": "$url", "classes": ${ls.size}}"""
      },
      "probabilizer.train" -> proc(needsFrom = true) { call => import call._
        // `probabilizer.train` (`plugins/jml/probabilizer.cc:292`):
        // fit Platt scaling σ(A·score + B) over `<expr> as score,
        // <expr> as label` rows; modelFileUrl keys the model for the
        // `probabilizer` function entity; functionName auto-creates it
        // (MLDB-59/573's flow).
        import org.apache.spark.sql.functions._
        val input = inputQuery("trainingData")
        val df0 = query(input)
        def needP(c: String): String = df0.schema.fields
          .find(_.name.equalsIgnoreCase(c)).map(_.name).getOrElse(
            throw new IllegalArgumentException("probabilizer.train " +
              "expects a scalar named 'score' and a scalar named " +
              "'label' in trainingData"))
        val scored = df0.select(
          col(s"`${needP("score")}`").cast("double").as("__s"),
          col(s"`${needP("label")}`").cast("boolean").cast("double")
            .as("__l"))
          .filter(col("__s").isNotNull && col("__l").isNotNull)
        val cal = graft.ml.Models.probabilizerTrain(scored, "__s", "__l")
        val (a, b) = cal.stages.last match {
          case m: org.apache.spark.ml.classification.LogisticRegressionModel =>
            (m.coefficients(0), m.intercept)
          case other => throw new IllegalStateException(
            s"unexpected probabilizer stage ${other.getClass.getSimpleName}")
        }
        val url = param("modelFileUrl").getOrElse("__prob_model")
        probModels(url) = (a, b)
        param("functionName").foreach(createProbabilizerFunction(_, url))
        s"""{"trained": "$url", "params": {"A": $a, "B": $b}}"""
      },
      "statsTable.train" -> proc(needsFrom = true) { call => import call._
        // `statsTable.train` (`plugins/feature_gen/
        // stats_table_procedure.cc`; MLDB-873): per key column and
        // value, count trials and outcome hits. outputDataset holds
        // each row's PRIOR counts in the query's order (the online-
        // learning feature shape) — windows partitioned by value,
        // ordered by row name, rows unbounded-preceding→-1: map-side
        // partial aggregation, one shuffle per key column, no driver
        // loop. The FINAL table registers for the getCounts function.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val input = inputQuery("trainingData")
        val outcomes = parseOutcomePairs(jsonValue("outcomes").getOrElse(
          throw new IllegalArgumentException(
            "statsTable.train needs outcomes")))
        require(outcomes.nonEmpty, "statsTable.train needs outcomes")
        // the outcome expressions read the SOURCE row (CLICK is
        // excluded from the keys selection but drives the outcomes) —
        // append them to the parsed statement
        val stmt0 = graft.sql.Parser.parse(input)
        val outcomeItems = outcomes.zipWithIndex.map { case ((_, ex), i) =>
          graft.sql.Parser.parse(s"SELECT ($ex) AS __oc$i").items.head
        }
        val df0 = queryStmt(stmt0.copy(items = stmt0.items ++ outcomeItems))
        val keyCols = df0.columns.filterNot(c =>
          c.equalsIgnoreCase("rowName") || c.startsWith("__") ||
            c.equalsIgnoreCase("ts")).toSeq
        require(keyCols.nonEmpty, "statsTable.train matched no key columns")
        require(df0.columns.exists(_.equalsIgnoreCase("rowName")),
          "statsTable.train needs named rows")
        val ocCols = outcomes.indices.map(i =>
          col(s"__oc$i").cast("boolean").cast("int"))
        // the FINAL value tables (config-sized, capped) — computed
        // FIRST because the per-value trial counts double as the skew
        // probe for the prior-count pass below
        val tables: Map[String, Seq[(String, Long, Seq[Long])]] =
          keyCols.map { c =>
            val aggs = count(lit(1)).as("__t") +:
              outcomes.indices.map(i => sum(ocCols(i)).as(s"__s$i"))
            val rows = graft.sql.PlanTime.boundedRows(
              df0.filter(col(s"`$c`").isNotNull)
                .groupBy(col(s"`$c`").cast("string").as("__v"))
                .agg(aggs.head, aggs.tail: _*),
              graft.sql.PlanTime.cap(spark), s"statsTable.train($c)")
            c -> rows.toSeq.map(r => (r.getString(0), r.getLong(1),
              outcomes.indices.map(i => r.getLong(2 + i)): Seq[Long]))
          }.toMap
        // prior counts per (column, value), exclusive of the row, in
        // row-name order. Two constructions with IDENTICAL (integer)
        // results:
        //  - well-distributed values: a window partitioned by the
        //    value — one shuffle, map-side partials;
        //  - a value whose row count crosses the skew threshold would
        //    funnel that window's partition into ONE task, so the
        //    column switches to DfOps.groupedRunningSums (the
        //    range-partitioned prefix sum of SURVEY §7.3 — group
        //    slices bounded by the range partitioner, never by the hot
        //    value's count).
        val skewThreshold = spark.conf
          .getOption("graft.statsTable.skewThreshold")
          .map(_.toLong).getOrElse(5000000L)
        val ordCol = col("rowName").cast("string")
        val skewedCols = keyCols.filter { c =>
          tables(c).exists(_._2 > skewThreshold)
        }.toSet
        val windowedPrior = (keyCols.filterNot(skewedCols)).flatMap { c =>
          val w = Window.partitionBy(col(s"`$c`"))
            .orderBy(ordCol)
            .rowsBetween(Window.unboundedPreceding, -1)
          outcomes.zipWithIndex.map { case ((o, _), i) =>
            coalesce(sum(ocCols(i)).over(w), lit(0L)).as(s"$o.$c")
          } :+ count(lit(1)).over(w).as(s"trial.$c")
        }
        var acc = df0.select(col("*") +: windowedPrior: _*)
        keyCols.filter(skewedCols).foreach { c =>
          acc = graft.core.DfOps.groupedRunningSums(acc, col(s"`$c`"),
            ordCol,
            outcomes.zipWithIndex.map { case ((o, _), i) =>
              s"$o.$c" -> ocCols(i).cast("long")
            }, s"trial.$c")
        }
        val outCols = keyCols.flatMap { c =>
          outcomes.map { case (o, _) => col(s"`$o.$c`") } :+
            col(s"`trial.$c`")
        }
        val out = acc.select(col("rowName") +: outCols: _*)
        param("outputDataset").foreach(createDataset(_, out))
        val url = param("statsTableFileUrl").getOrElse("__stats_table")
        statsTableModels(url) = (keyCols, outcomes.map(_._1), tables)
        param("functionName").foreach(createStatsTableFunction(_, url))
        s"""{"trained": "$url", "keyColumns": ${keyCols.size}}"""
      },
      "statsTable.bagOfWords.train" -> proc(needsFrom = true) { call => import call._
        // `statsTable.bagOfWords.train` (`stats_table_procedure.cc:
        // 600-698`; MLDB-873/MLDBFB-506): the trainingData's columns
        // are WORDS (a tokenize bag per row); per word count the rows
        // holding it (trials) and the outcome hits. One aggregate
        // pass, two aggregates per word column — the vocabulary is the
        // (already-capped) dynamic schema.
        import org.apache.spark.sql.functions._
        val input = inputQuery("trainingData")
        val outcomes = parseOutcomePairs(jsonValue("outcomes").getOrElse(
          throw new IllegalArgumentException(
            "statsTable.bagOfWords.train needs outcomes")))
        require(outcomes.nonEmpty, "statsTable.bagOfWords.train needs outcomes")
        val stmt0 = graft.sql.Parser.parse(input)
        val outcomeItems = outcomes.zipWithIndex.map { case ((_, ex), i) =>
          graft.sql.Parser.parse(s"SELECT ($ex) AS __oc$i").items.head
        }
        val df0 = queryStmt(stmt0.copy(items = stmt0.items ++ outcomeItems))
        val wordCols = df0.columns.filterNot(c =>
          c.equalsIgnoreCase("rowName") || c.startsWith("__") ||
            c.equalsIgnoreCase("ts")).toSeq
        require(wordCols.nonEmpty,
          "statsTable.bagOfWords.train matched no word columns")
        val ocCols = outcomes.indices.map(i =>
          col(s"__oc$i").cast("boolean").cast("int"))
        val aggs = wordCols.flatMap { w =>
          count(col(s"`$w`")).as(s"__t_$w") +:
            outcomes.indices.map(i =>
              sum(when(col(s"`$w`").isNotNull, ocCols(i))
                .otherwise(lit(0))).as(s"__s${i}_$w"))
        }
        val row = df0.agg(aggs.head, aggs.tail: _*).head()
        val words: Map[String, (Long, Seq[Long])] = wordCols.map { w =>
          w -> ((row.getAs[Long](s"__t_$w"),
            outcomes.indices.map(i =>
              Option(row.getAs[Any](s"__s${i}_$w"))
                .map(_.asInstanceOf[Number].longValue).getOrElse(0L))))
        }.toMap
        val url = param("statsTableFileUrl").getOrElse("__bow_stats_table")
        bowStatsModels(url) = (outcomes.map(_._1), words)
        param("outputDataset").foreach { id =>
          import org.apache.spark.sql.types._
          val schema = StructType(
            StructField("rowName", StringType) +:
              StructField("trials", LongType) +:
              outcomes.map { case (o, _) =>
                StructField(s"outcome.$o", LongType) })
          val rows = words.toSeq.sortBy(_._1).map { case (w, (t, os)) =>
            org.apache.spark.sql.Row.fromSeq(w +: t +: os)
          }
          createDataset(id, spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema))
        }
        param("functionName").foreach { fn =>
          // functionName + functionOutcomeToUse auto-create a posneg
          // function with the reference's 50/50/50 defaults
          param("functionOutcomeToUse").foreach(o =>
            createStatsTablePosNegFunction(fn, url, o))
        }
        s"""{"trained": "$url", "words": ${words.size}}"""
      },
      "experimental.distTable.train" -> proc() { call => import call._
        // `experimental.distTable.train` (`plugins/feature_gen/
        // dist_table_procedure.cc`; MLDB-1750): per key column and
        // value, track the distribution of each NUMERIC outcome.
        // outputDataset holds each row's PRIOR stats in the query's
        // ORDER BY order (windows, map-side partials, one shuffle per
        // key column); all seven stats are stored, `statistics` picks
        // the emitted subset. mode=bagOfWords keys columns by PRESENCE
        // (word bags) instead of by value.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val input = inputQuery("trainingData")
        val outcomes = parseOutcomePairs(jsonValue("outcomes").getOrElse(
          throw new IllegalArgumentException(
            "distTable.train needs outcomes")))
        require(outcomes.nonEmpty, "distTable.train needs outcomes")
        val mode = param("mode").getOrElse("keyValue")
        val stats = validateDistStats(param("statistics")
          .map(_.stripPrefix("[").stripSuffix("]").split(",")
            .map(_.trim.stripPrefix("\"").stripSuffix("\""))
            .filter(_.nonEmpty).toSeq)
          .getOrElse(Seq("count", "avg", "std", "min", "max")))
        val stmt0 = graft.sql.Parser.parse(input)
        val outcomeItems = outcomes.zipWithIndex.map { case ((_, ex), i) =>
          graft.sql.Parser.parse(s"SELECT ($ex) AS __oc$i").items.head
        }
        // the training ORDER comes from the query's ORDER BY — surface
        // its keys as hidden columns for the windows
        val ordItems = stmt0.orderBy.zipWithIndex.map { case (ob, i) =>
          graft.sql.Ast.SelectItem(ob.e, Some(s"__ord$i"))
        }
        // keep row names through a bare-column selection (`SELECT tag*`)
        val rnItem =
          if (stmt0.items.exists {
              case graft.sql.Ast.SelectItem(_, Some(a)) =>
                a.equalsIgnoreCase("rowName")
              case graft.sql.Ast.SelectItem(
                  graft.sql.Ast.Star(_, prefix, _), _) =>
                prefix.isEmpty // `tag*` does NOT carry rowName, `*` does
              case _ => false
            }) Nil
          else Seq(graft.sql.Ast.SelectItem(
            graft.sql.Ast.FnCall("rowname", Seq.empty), Some("rowName")))
        val df0 = queryStmt(stmt0.copy(items = stmt0.items ++ rnItem ++ outcomeItems ++ ordItems))
        val keyCols = df0.columns.filterNot(c =>
          c.equalsIgnoreCase("rowName") || c.startsWith("__") ||
            c.equalsIgnoreCase("ts")).toSeq
        require(keyCols.nonEmpty, "distTable.train matched no key columns")
        val ordCols =
          if (stmt0.orderBy.nonEmpty)
            stmt0.orderBy.zipWithIndex.map { case (ob, i) =>
              if (ob.asc) col(s"__ord$i").asc else col(s"__ord$i").desc
            }
          else Seq(col("rowName").cast("string").asc)
        val bow = mode == "bagOfWords"
        def priorStat(c: String, oi: Int, stat: String)
            : org.apache.spark.sql.Column = {
          val part = if (bow) col(s"`$c`").isNotNull else col(s"`$c`")
          val w = Window.partitionBy(part).orderBy(ordCols: _*)
            .rowsBetween(Window.unboundedPreceding, -1)
          val oc = col(s"__oc$oi").cast("double")
          val raw = stat match {
            case "count" => count(lit(1)).over(w).cast("double")
            case "avg" => coalesce(avg(oc).over(w), lit(Double.NaN))
            case "std" =>
              coalesce(stddev_samp(oc).over(w), lit(Double.NaN))
            case "min" => coalesce(min(oc).over(w), lit(Double.NaN))
            case "max" => coalesce(max(oc).over(w), lit(Double.NaN))
            case "last" => coalesce(last(oc).over(w), lit(Double.NaN))
            case "sum" => coalesce(sum(oc).over(w), lit(0.0))
          }
          // bagOfWords: a row without the word has NO cell (null)
          if (bow) when(col(s"`$c`").isNotNull, raw) else raw
        }
        // FINAL tables: full seven-stat summaries per (column, value)
        // (computed BEFORE the prior columns so their per-value counts
        // drive the skew-path decision below)
        val ordRaw: Seq[org.apache.spark.sql.Column] =
          if (stmt0.orderBy.nonEmpty)
            stmt0.orderBy.indices.map(i => col(s"__ord$i"))
          else Seq(col("rowName").cast("string"))
        val tables: Map[String, Map[Option[String], Seq[DistStats]]] =
          keyCols.map { c =>
            val grp =
              if (bow) df0.filter(col(s"`$c`").isNotNull)
                .groupBy(lit("__present").as("__v"))
              else df0.groupBy(col(s"`$c`").cast("string").as("__v"))
            val aggs = outcomes.indices.flatMap { i =>
              val oc = col(s"__oc$i").cast("double")
              // 'last' = the value at the max order key (exact for the
              // ascending training orders the reference uses)
              Seq(count(lit(1)).cast("long"), sum(oc), avg(oc),
                stddev_samp(oc), min(oc), max(oc),
                max_by(oc, struct(ordRaw: _*)))
            }
            val rows = graft.sql.PlanTime.boundedRows(
              grp.agg(aggs.head, aggs.tail: _*),
              graft.sql.PlanTime.cap(spark), s"distTable.train($c)")
            c -> rows.toSeq.map { r =>
              val key: Option[String] =
                if (bow) None else Option(r.getString(0))
              val ss: Seq[DistStats] = outcomes.indices.map { i =>
                val off = 1 + i * 7
                def d(j: Int): Double =
                  if (r.isNullAt(off + j)) Double.NaN
                  else r.get(off + j).asInstanceOf[Number].doubleValue
                DistStats(r.getLong(off), d(1), d(2), d(3), d(4), d(5),
                  d(6))
              }
              key -> ss
            }.toMap
          }.toMap
        // prior columns for outputDataset. Same two-construction
        // discipline as statsTable.train: a value whose row count
        // crosses the skew threshold would funnel its
        // Window.partitionBy(value) partition into ONE task, so that
        // column's count/sum/min/max priors switch to
        // DfOps.groupedRunningStats (range-partitioned prefix combine;
        // min/max merge exactly via least/greatest, count exactly,
        // sum exactly for integer-valued outcomes, and 'last' exactly
        // — prefix-last is the value at the max order key, and
        // max-by-order merges by SELECTION (DfOps.groupedRunningStats
        // kind last), bit-exact with no flag needed). avg/std stay
        // windowed even past the threshold BY DEFAULT — prefix-merging
        // reorders float accumulation and would silently change
        // low-order bits (the q122 exactness contract). Setting
        // graft.distTable.skewSafeFloat=true opts avg/std into the
        // Chan pairwise prefix merge (DfOps.groupedRunningStats kinds
        // avg/std) — rounding-level agreement, documented bit-
        // divergent, but NO hot-key window task remains for them.
        // The switch needs an all-ASC training order (the range
        // partitioner's frame); DESC keys keep the window.
        val skewThreshold = spark.conf
          .getOption("graft.distTable.skewThreshold")
          .map(_.toLong).getOrElse(5000000L)
        val skewSafeFloat = spark.conf
          .getOption("graft.distTable.skewSafeFloat").exists(_.toBoolean)
        val prefixable =
          if (skewSafeFloat)
            Set("count", "sum", "min", "max", "last", "avg", "std")
          else Set("count", "sum", "min", "max", "last")
        val allAsc = stmt0.orderBy.isEmpty || stmt0.orderBy.forall(_.asc)
        val skewedCols: Set[String] =
          if (!allAsc) Set.empty
          else keyCols.filter { c =>
            tables(c).values.exists(_.headOption.exists(
              _.count > skewThreshold))
          }.toSet
        val windowedPrior = for {
          ((o, _), oi) <- outcomes.zipWithIndex
          c <- keyCols
          stat <- stats
          if !(skewedCols(c) && prefixable(stat))
        } yield priorStat(c, oi, stat).as(s"$o.$c.$stat")
        var acc = df0.select(col("*") +: windowedPrior: _*)
        // the switch only fires when at least one requested stat is
        // prefixable — statistics=["avg","std"] alone must keep the
        // window even past the threshold, not call the helper with an
        // empty spec list
        if (stats.exists(prefixable))
          keyCols.filter(skewedCols).foreach { c =>
            val grp = if (bow) col(s"`$c`").isNotNull else col(s"`$c`")
            // unique per row (grs contract): the training order plus
            // the row name as a tiebreak — window ROWS frames break
            // order ties nondeterministically anyway
            val ordStruct =
              struct(ordRaw :+ col("rowName").cast("string"): _*)
            val specs = for {
              ((o, _), oi) <- outcomes.zipWithIndex
              stat <- stats if stat != "count" && prefixable(stat)
            } yield (s"$o.$c.$stat", col(s"__oc$oi").cast("double"), stat)
            acc = graft.core.DfOps.groupedRunningStats(acc, grp, ordStruct,
              specs,
              if (stats.contains("count")) Some(s"__cnt.$c") else None)
          }
        val priorCols = for {
          ((o, _), oi) <- outcomes.zipWithIndex
          c <- keyCols
          stat <- stats
        } yield {
          val name = s"$o.$c.$stat"
          if (skewedCols(c) && prefixable(stat)) {
            val raw = stat match {
              case "count" => col(s"`__cnt.$c`").cast("double")
              case "sum" => coalesce(col(s"`$name`"), lit(0.0))
              case _ => coalesce(col(s"`$name`"), lit(Double.NaN))
            }
            (if (bow) when(col(s"`$c`").isNotNull, raw) else raw).as(name)
          } else col(s"`$name`")
        }
        param("outputDataset").foreach(id =>
          createDataset(id, acc.select(col("rowName") +: priorCols: _*)))
        val url = param("distTableFileUrl").getOrElse("__dist_table")
        distTableModels(url) =
          (if (bow) "bagOfWords" else "keyValue", outcomes.map(_._1),
            keyCols, tables)
        param("functionName").foreach(fn =>
          createDistTableGetStatsFunction(fn, url, Some(stats)))
        s"""{"trained": "$url", "keyColumns": ${keyCols.size}}"""
      },
      "experimental.statsTable.derivedColumnsGenerator" -> proc() { call => import call._
        // `experimental.statsTable.derivedColumnsGenerator`
        // (`stats_table_procedure.cc:523-592`): expand the expression
        // template once per trained key column — replace "trial" and
        // each outcome name with its per-column path, then $tbl with
        // the column — and register the assembled sql.expression.
        val template = req("expression")
        val url = req("statsTableFileUrl")
        val fnId = param("functionId").orElse(param("functionName"))
          .getOrElse(throw new IllegalArgumentException(
            "derivedColumnsGenerator needs functionId"))
        val (keyCols, outcomeNames, _) = statsTableModels.getOrElse(url,
          throw new NoSuchElementException(
            s"no stats table trained at '$url'"))
        val stNames = keyCols.sorted // the reference's std::map order
        val temp = scala.collection.mutable.ArrayBuffer.fill(
          stNames.size)(template)
        def doReplace(token: String): Unit = {
          for (i <- temp.indices) {
            if (!temp(i).contains(token)) return
            temp(i) = temp(i).replace(token, s"$token.${stNames(i)}")
          }
        }
        doReplace("trial")
        outcomeNames.foreach(doReplace)
        for (i <- temp.indices)
          temp(i) = temp(i).replace("$tbl", stNames(i))
        createSqlExpressionFunction(fnId, temp.mkString(","))
        s"""{"functionId": "$fnId"}"""
      },
      "classifier.experiment" -> proc() { call => import call._
        // `classifier.experiment` (`plugins/jml/
        // experiment_procedure.cc`; MLDB-878): train/test fold battery
        // over the classifier.train/test procedures, auto-creating a
        // `<experimentName>_scorer_<i>` function per fold.
        val expName = param("experimentName").getOrElse(
          throw new IllegalArgumentException(
            "classifier.experiment needs experimentName"))
        val input = param("inputData").orElse(param("trainingData"))
          .getOrElse(throw new IllegalArgumentException(
            "Training data must be specified."))
        val testOverride = param("testingDataOverride")
        val kfold = param("kfold").map(_.toInt).getOrElse(0)
        val foldPairs: Seq[(String, String)] = param("datasetFolds")
          .map { raw =>
            "\\{[^{}]*\\}".r.findAllIn(raw).toSeq.map { o =>
              def f(k: String) =
                ("\"" + k + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
                  .findFirstMatchIn(o).map(_.group(1)).getOrElse("true")
              (f("trainingWhere"), f("testingWhere"))
            }
          }.getOrElse(Seq.empty)
        if (foldPairs.nonEmpty && kfold != 0)
          throw new IllegalArgumentException("The datasetFolds and kfold " +
            "parameters cannot be specified at the same time.")
        if (kfold == 1)
          throw new IllegalArgumentException(
            "When using the kfold parameter, it must be >= 2.")
        if (kfold >= 2 && testOverride.isDefined)
          throw new IllegalArgumentException(
            "Should not use a k-fold cross-validation if testing " +
              "dataset is specified.")
        val folds: Seq[(String, String)] =
          if (foldPairs.nonEmpty) foldPairs
          else if (kfold >= 2) (0 until kfold).map(k =>
            (s"rowHash() % $kfold != $k", s"rowHash() % $kfold = $k"))
          else if (testOverride.isDefined) Seq(("true", "true"))
          else Seq(("rowHash() % 2 != 1", "rowHash() % 2 = 1"))
        val urlPattern = param("modelFileUrlPattern").getOrElse(
          throw new IllegalArgumentException(
            "classifier.experiment needs modelFileUrlPattern"))
        val mode = param("mode").getOrElse("boolean")
        val outputAccuracy = param("outputAccuracyDataset")
          .forall(_.toBoolean)
        val foldsJson = folds.zipWithIndex.map { case ((trainW, testW), i) =>
          val modelUrl = urlPattern.replace("$runid", s"$expName-$i")
          val scorer = s"${expName}_scorer_$i"
          val trainParams: Map[String, String] = Map(
            "trainingData" -> s"select * from ($input) where ($trainW)",
            "modelFileUrl" -> modelUrl,
            "functionName" -> scorer,
            "mode" -> mode) ++
            param("algorithm").map("algorithm" -> _) ++
            param("configuration").map("configuration" -> _)
          runProcedure("classifier.train", trainParams.get _)
          val testInput = testOverride.getOrElse(input)
          // a scorer name with non-identifier chars (a permuted
          // experimentName like "my_test-exp_permutation_1") must be
          // quoted in the generated test query
          val scorerRef =
            if (scorer.forall(ch => ch.isLetterOrDigit || ch == '_')) scorer
            else "\"" + scorer + "\""
          val testQ = s"select $scorerRef({features: features})[score] " +
            s"as score, label from (select * from ($testInput) " +
            s"where ($testW))"
          val testRes = runProcedure("classifier.test", Map(
            "mode" -> mode, "testingData" -> testQ).get _)
          val accJson = if (outputAccuracy && mode == "boolean") {
            val id = s"${expName}_results_$i"
            createDataset(id, query(testQ))
            s""", "accuracyDataset": ${jsonQ(id)}"""
          } else ""
          s"""{"fold": $i, "modelFileUrl": ${jsonQ(modelUrl)}, """ +
            s""""functionName": ${jsonQ(scorer)}, """ +
            s""""resultsTest": $testRes$accJson}"""
        }
        // reference run output shape (experiment_procedure.cc:605):
        // {folds, aggregatedTest} — aggregatedTest carries mean/std/
        // min/max over the folds' test metrics (here: auc)
        val aucVals = foldsJson.flatMap(f =>
          "\"auc\": ?([0-9.eE+-]+)".r.findFirstMatchIn(f)
            .map(_.group(1).toDouble))
        val agg = if (aucVals.isEmpty) "" else {
          val mean = aucVals.sum / aucVals.size
          val std = if (aucVals.size <= 1) 0.0 else math.sqrt(
            aucVals.map(a => (a - mean) * (a - mean)).sum /
              (aucVals.size - 1))
          s""", "aggregatedTest": {"auc": {"max": ${aucVals.max}, """ +
            s""""mean": $mean, "min": ${aucVals.min}, "std": $std}}"""
        }
        s"""{"folds": ${foldsJson.mkString("[", ",", "]")}$agg}"""
      },
      "split" -> proc() { call => import call._
        // `split` (`builtin/datasetsplit_procedure.cc`): distribute
        // rows among output datasets keeping each LABEL represented in
        // every split and the label/row proportions near the requested
        // fractions (greedy, row at a time — the reference's algorithm
        // is inherently sequential, so it runs on the driver under the
        // maxQueryRows bound; row ORDER is a deterministic seeded hash
        // shuffle rather than the reference's mt19937 stream —
        // documented divergence, the distribution properties its tests
        // assert are preserved).
        import org.apache.spark.sql.functions._
        val labelsQ = param("labels").getOrElse(
          throw new IllegalArgumentException("split needs a labels query"))
        val splits = param("splits").getOrElse(
          throw new IllegalArgumentException("split needs splits"))
          .split(",").map(_.trim.toDouble).toSeq
        val outs = req("outputDatasets").split(",").map(_.trim).toSeq
        require(splits.size == outs.size, "Number of splits requested " +
          "is different than the number of datasets provided")
        require(splits.size >= 2, "Insufficient number of splits")
        val df0 = query(labelsQ)
        val rnCol =
          if (df0.columns.exists(_.equalsIgnoreCase("rowName")))
            col("rowName").cast("string")
          else monotonically_increasing_id().cast("string")
        val labelCols = df0.columns.filterNot(c =>
          c.equalsIgnoreCase("rowName") || c.startsWith("__")).toSeq
        val rows = graft.sql.PlanTime.boundedRows(
          df0.select(rnCol.as("__rn") +:
            labelCols.map(c => col(s"`$c`")): _*),
          JsHost.maxQueryRows, "split procedure labels")
        val seed = param("randomSeed").map(_.toInt).getOrElse(1)
        val ordered = rows.sortBy(r =>
          (scala.util.hashing.MurmurHash3.stringHash(r.getString(0), seed),
            r.getString(0)))
        val foldImportance =
          param("foldImportance").map(_.toDouble).getOrElse(1.0)
        val k = splits.size
        val distributions = Array.fill(k)(0L)
        val sums = scala.collection.mutable.Map[String, Array[Long]]()
        val assign = Array.newBuilder[(String, Int)]
        var numAdded = 0L
        ordered.foreach { r =>
          var bestFold = 0
          var diff = 0.0
          if (numAdded > 0) for (f <- 0 until k) {
            val prop = distributions(f).toDouble / numAdded
            val splitDiff = foldImportance * (splits(f) - prop)
            if (splitDiff > diff) { diff = splitDiff; bestFold = f }
          }
          var unknown = false
          val present = labelCols.zipWithIndex.collect {
            case (l, i) if !r.isNullAt(i + 1) => l
          }
          present.foreach { l =>
            sums.get(l) match {
              case None =>
                sums(l) = Array.fill(k)(0L); unknown = true; bestFold = 0
              case Some(dist) if !unknown =>
                val zero = dist.indexWhere(_ == 0L)
                if (zero >= 0) { bestFold = zero; unknown = true }
                else {
                  val labelSum = dist.sum.toDouble
                  var worstError = 0.0; var worstFold = 0
                  for (i <- 0 until k) {
                    val d = splits(i) - dist(i) / labelSum
                    if (d > worstError) { worstError = d; worstFold = i }
                  }
                  if (worstError > diff) { diff = worstError; bestFold = worstFold }
                }
              case _ => ()
            }
          }
          present.foreach(l => sums(l)(bestFold) += 1)
          distributions(bestFold) += 1
          assign += r.getString(0) -> bestFold
          numAdded += 1
        }
        import spark.implicits._
        val assignDf = assign.result().toSeq.toDF("__rn", "__fold")
        val withRn = df0.withColumn("__rn", rnCol)
        val hasRowName = df0.columns.exists(_.equalsIgnoreCase("rowName"))
        outs.zipWithIndex.foreach { case (id, f) =>
          val joined = withRn.join(
            broadcast(assignDf.filter(col("__fold") === f).select("__rn")),
            Seq("__rn"))
          createDataset(id,
            if (hasRowName) joined.drop("__rn")
            else joined.withColumnRenamed("__rn", "rowName"))
        }
        s"""{"splits": ${distributions.mkString("[", ", ", "]")}}"""
      },
      "tfidf.train" -> proc(needsFrom = true) { call => import call._
        // `tfidf.train` (`plugins/nlp/tfidf.cc:136-190`;
        // testing/MLDB-1101-tf-idf.py): count the documents each WORD
        // (column of the bag-of-words input) appears in — one
        // aggregate pass — and register the df table under
        // modelFileUrl for the `tfidf` function entity. outputDataset
        // = one row per word with its document count.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types._
        val input = inputQuery("trainingData")
        val df0raw = query(input)
        val dfr =
          if (df0raw.schema.headOption.exists(f =>
              f.name.equalsIgnoreCase("rowName") &&
                f.metadata.contains("graft.implicitRowName")))
            df0raw.drop(df0raw.columns.head)
          else df0raw
        val words = dfr.columns.filterNot(c =>
          c.equalsIgnoreCase("rowName") || c.startsWith("__")).toSeq
        require(words.nonEmpty, "tfidf training data matched no columns")
        val aggExprs = words.map(w => count(col(s"`$w`")).as(w)) :+
          count(lit(1)).as("__n")
        val row = dfr.agg(aggExprs.head, aggExprs.tail: _*).head()
        val dfs = words.zipWithIndex.map { case (w, i) =>
          w -> row.getLong(i)
        }.toMap
        val n = row.getAs[Long]("__n")
        val url = param("modelFileUrl").getOrElse("__tfidf_model")
        tfidfModels(url) = (dfs, n)
        param("outputDataset").foreach { id =>
          val rows = words.sorted.map(w =>
            org.apache.spark.sql.Row(w, dfs(w)))
          createDataset(id, spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1),
            StructType(Seq(StructField("rowName", StringType),
              StructField("count", LongType)))))
        }
        param("functionName").foreach(createTfidfFunction(_, url,
          param("tfType").getOrElse("raw"),
          param("idfType").getOrElse("inverseSmooth")))
        s"""{"trained": "$url", "corpusSize": $n}"""
      },
      "dataset.stats" -> proc() { call => import call._
        // pro-plugin utility (the `.cc` sources under `plugins/pro`,
        // lines 124-201): per-column type/null/distinct profile of a
        // registered dataset. One aggregate pass (exact null counts,
        // approx distinct — the sketch keeps it single-pass at any
        // width).
        val df = dataset(req("inputDataset"))
        import org.apache.spark.sql.functions._
        val aggs = df.schema.fields.flatMap(f => Seq(
          sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls"),
          approx_count_distinct(col(f.name)).as(s"${f.name}__distinct")))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        val n = df.count()
        val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
          s"""{"column": "${f.name}", "type": "${f.dataType.simpleString}", """ +
            s""""nulls": ${row.getLong(2 * i)}, "approxDistinct": ${row.getLong(2 * i + 1)}}"""
        }.mkString("[", ",", "]")
        s"""{"rowCount": $n, "columnCount": ${df.schema.fields.length}, "columns": $cols}"""
      },
      "dataset.compact" -> proc() { call => import call._
        // beyond-reference maintenance procedure: rewrite a
        // partitioned parquet store's accumulated small files into
        // ~targetBytes-sized ones (see graft.procedures.Compact — the
        // operational fix for streaming-ingest file explosion; data,
        // layout, and partition pruning unchanged).
        val path = req("storeUrl").stripPrefix("file://")
        val target = param("targetBytes").map(_.toLong)
          .getOrElse(128L << 20)
        val retire = param("retireStreamMetadata").exists(v =>
          v == "true" || v == "1")
        val allowNar = param("allowNonAtomicRename").exists(v =>
          v == "true" || v == "1")
        val rep = graft.procedures.Compact.compactStore(spark, path,
          targetBytes = target, retireStreamMetadata = retire,
          allowNonAtomicRename = allowNar)
        s"""{"partitionsScanned": ${rep.partitionsScanned}, """ +
          s""""partitionsCompacted": ${rep.partitionsCompacted}, """ +
          s""""filesBefore": ${rep.filesBefore}, """ +
          s""""filesAfter": ${rep.filesAfter}}"""
      },
      "list.files" -> proc() { call => import call._
        // pro-plugin `list.files`: a directory listing as a dataset
        // (path, size, modified) — driver-side walk, listing-sized.
        import scala.jdk.CollectionConverters._
        val dir = java.nio.file.Paths.get(req("dataFileUrl"))
        val s2 = spark
        import s2.implicits._
        val rows = java.nio.file.Files.walk(dir).iterator.asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(p => (p.toString, java.nio.file.Files.size(p),
            new java.sql.Timestamp(
              java.nio.file.Files.getLastModifiedTime(p).toMillis)))
          .toSeq
        registerOut(rows.toDF("path", "size_bytes", "modified"))
      },
      // LLM-pipeline operators as first-class procedures (same typed
      // dispatch as the reference's procedure entities): each reads a
      // registered dataset, runs the batch operator, and registers the
      // result under outputDataset.
      "dedup.exact" -> proc() { call => import call._
        registerOut(graft.operators.Dedup.exact(dataset(req("inputDataset")),
          param("column").getOrElse("text"),
          param("idColumn").getOrElse("doc_id")))
      },
      "pipeline.curate" -> proc() { call => import call._
        // the whole curation chain behind one call (the q105 shape):
        // optional stages run in the canonical order — corpus line
        // dedup → C4 cleanup → Gopher quality gate → repetition gate →
        // exact dedup → benchmark decontamination → temperature
        // rebalance. Every stage is the same operator the standalone
        // procedures use; disabled stages cost nothing.
        import org.apache.spark.sql.functions.{col => c}
        import graft.operators.{Dedup, TextAnalysis}
        val keepCols = param("keepColumns")
          .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(Nil)
        def on(p: String) = param(p).exists(_.toBoolean)
        var cur = dataset(req("inputDataset"))
          .withColumnRenamed(param("idColumn").getOrElse("doc_id"), "doc_id")
          .withColumnRenamed(param("column").getOrElse("text"), "text")
          .select((Seq("doc_id", "text") ++ keepCols).map(c): _*)
        val carry = (df: org.apache.spark.sql.DataFrame) =>
          df.select((Seq("doc_id", "text") ++ keepCols).map(c): _*)
        if (on("lineDedup")) {
          val others = cur.select((Seq("doc_id") ++ keepCols).map(c): _*)
          cur = carry(TextAnalysis.lineDedup(cur, "doc_id", "text",
            param("lineDropThreshold").map(_.toLong).getOrElse(Long.MaxValue))
            .join(others, Seq("doc_id")))
        }
        if (on("c4"))
          cur = carry(TextAnalysis.c4Clean(cur, "doc_id", "text",
            keep = keepCols).filter(c("keep")))
        if (on("quality"))
          cur = carry(TextAnalysis.gopherQuality(cur, "doc_id", "text",
            keep = Seq("text") ++ keepCols,
            stopwords = param("stopwords")
              .map(_.split(",").toSeq.map(_.trim))
              .getOrElse(Seq("the", "be", "to", "of", "and", "that",
                "have", "with")),
            minStop = param("minStop").map(_.toLong).getOrElse(2L))
            .filter(c("pass")))
        if (on("repetition"))
          cur = carry(TextAnalysis.gopherRepetition(cur, "doc_id", "text",
            keep = Seq("text") ++ keepCols).filter(c("pass")))
        if (on("dedupExact")) cur = Dedup.exact(cur, "text", "doc_id")
        param("benchmarkDataset").foreach { b =>
          val maxC = param("maxContamination").map(_.toDouble).getOrElse(0.8)
          val keepIds = TextAnalysis.contamination(cur, "doc_id", "text",
            dataset(b), param("benchmarkColumn").getOrElse("text"))
            .filter(c("contamination") < maxC).select(c("id").as("doc_id"))
          cur = cur.join(keepIds, Seq("doc_id"))
        }
        param("budgetFraction").foreach { bf =>
          cur = cur.join(graft.procedures.Procedures.temperatureSample(
            cur, param("sourceColumn").getOrElse("source"), "doc_id",
            budgetFraction = bf.toDouble,
            alpha = param("alpha").map(_.toDouble).getOrElse(0.5))
            .select("doc_id"), Seq("doc_id"))
        }
        registerOut(cur)
      },
      "dedup.winnow" -> proc() { call => import call._
        registerOut(graft.operators.Dedup.winnowDedup(
          dataset(req("inputDataset")),
          param("column").getOrElse("text"),
          param("idColumn").getOrElse("doc_id"),
          k = param("k").map(_.toInt).getOrElse(3),
          w = param("w").map(_.toInt).getOrElse(4)))
      },
      "dedup.minhash" -> proc() { call => import call._
        registerOut(graft.operators.Dedup.minHashDedup(
          dataset(req("inputDataset")),
          param("column").getOrElse("text"),
          param("idColumn").getOrElse("doc_id")))
      },
      "dedup.semantic" -> proc() { call => import call._
        // SemDeDup over an embedding column; k-means centroids trained
        // in place (semanticDedupAuto) unless a centroidsDataset of
        // (id, vector) rows is supplied.
        val in = dataset(req("inputDataset"))
        val vecCol = param("vectorColumn").getOrElse("embedding")
        val idCol = param("idColumn").getOrElse("vec_id")
        val minCos = param("minCosine").map(_.toDouble).getOrElse(0.95)
        registerOut(param("centroidsDataset") match {
          case Some(cds) =>
            // Centroids are conventionally k-sized, but this is a
            // user-supplied dataset — bound the driver materialization
            // like every other plan-time collect (fail fast, named site).
            val cents = graft.sql.PlanTime.boundedRows(
              dataset(cds).select(org.apache.spark.sql.functions
                .col(vecCol).cast("array<double>")),
              graft.sql.PlanTime.cap(in.sparkSession),
              "dedup.semantic centroidsDataset")
              .map(_.getSeq[Double](0).toArray)
            graft.operators.Dedup.semanticDedup(in, vecCol, idCol, cents, minCos)
          case None =>
            graft.operators.Dedup.semanticDedupAuto(in, vecCol, idCol,
              k = param("k").map(_.toInt).getOrElse(64), minCos)
        })
      },
      "sample.dsir" -> proc() { call => import call._
        registerOut(graft.operators.TextAnalysis.dsirSelect(
          dataset(req("inputDataset")), dataset(req("targetDataset")),
          param("idColumn").getOrElse("doc_id"),
          param("column").getOrElse("text"),
          k = param("k").map(_.toInt).getOrElse(1000),
          nBuckets = param("nBuckets").map(_.toInt).getOrElse(256)))
      },
      "sample.temperature" -> proc() { call => import call._
        registerOut(graft.procedures.Procedures.temperatureSample(
          dataset(req("inputDataset")),
          param("sourceColumn").getOrElse("source"),
          param("idColumn").getOrElse("doc_id"),
          budgetFraction = req("budgetFraction").toDouble,
          alpha = param("alpha").map(_.toDouble).getOrElse(0.5)))
      },
      "quality.gopher" -> proc() { call => import call._
        registerOut(graft.operators.TextAnalysis.gopherQuality(
          dataset(req("inputDataset")),
          param("idColumn").getOrElse("doc_id"),
          param("column").getOrElse("text"),
          stopwords = param("stopwords")
            .map(_.split(",").toSeq.map(_.trim))
            .getOrElse(Seq("the", "be", "to", "of", "and", "that",
              "have", "with")),
          minStop = param("minStop").map(_.toLong).getOrElse(2L)))
      },
      "quality.c4" -> proc() { call => import call._
        registerOut(graft.operators.TextAnalysis.c4Clean(
          dataset(req("inputDataset")),
          param("idColumn").getOrElse("doc_id"),
          param("column").getOrElse("text"),
          minWordsPerLine = param("minWordsPerLine").map(_.toInt).getOrElse(5),
          minSentences = param("minSentences").map(_.toInt).getOrElse(3)))
      },
      "quality.repetition" -> proc() { call => import call._
        registerOut(graft.operators.TextAnalysis.gopherRepetition(
          dataset(req("inputDataset")),
          param("idColumn").getOrElse("doc_id"),
          param("column").getOrElse("text")))
      },
      "pack.sequence" -> proc() { call => import call._
        import org.apache.spark.sql.functions.{col => c}
        val in = dataset(req("inputDataset"))
        val idCol = param("idColumn").getOrElse("doc_id")
        val groupCol = param("groupColumn") // set → per-group streams
        val keyCols = (Seq(idCol) ++ groupCol).map(c)
        // either a precomputed token-count column, or count a text col
        val counted = param("nTokensColumn") match {
          case Some(cc) =>
            in.select(keyCols :+ c(cc).cast("long").as("n_tokens"): _*)
          case None =>
            in.select(keyCols :+ graft.functions.TextFunctions.tokenCount(
              c(param("column").getOrElse("text")))
              .cast("long").as("n_tokens"): _*)
        }
        val budget = param("budget").map(_.toLong).getOrElse(2048L)
        registerOut(groupCol match {
          case Some(g) => graft.procedures.Procedures
            .sequencePackGrouped(counted, g, idCol, "n_tokens", budget)
          case None => graft.procedures.Procedures
            .sequencePack(counted, idCol, "n_tokens", budget)
        })
      },
      "bpe.train" -> proc() { call => import call._
        // procedure → appliable function lifecycle, like
        // classifier.train: the trained merges become a registered
        // function that tokenizes any dataset's text column.
        val model = graft.ml.Bpe.train(dataset(req("trainingDataset")),
          param("column").getOrElse("text"),
          numMerges = param("numMerges").map(_.toInt).getOrElse(200),
          maxVocab = param("maxVocab").map(_.toInt).getOrElse(50000))
        val fname = req("functionName")
        val textCol = param("column").getOrElse("text")
        createFunction(fname, df => df.withColumn("bpe_tokens",
          graft.ml.Bpe.encodeColumn(
            graft.functions.TextFunctions.tokens(
              org.apache.spark.sql.functions.col(textCol)), model)))
        s"""{"functionName": "$fname", "merges": ${model.merges.size}}"""
      },
      "ann.quantized" -> proc() { call => import call._
        registerOut(graft.operators.Similarity.quantizedTopK(
          dataset(req("inputDataset")), dataset(req("queriesDataset")),
          param("vectorColumn").getOrElse("embedding"),
          param("idColumn").getOrElse("vec_id"),
          k = param("k").map(_.toInt).getOrElse(10),
          rerankFactor = param("rerankFactor").map(_.toInt).getOrElse(4)))
      },
      "script.run" -> proc() { call => import call._
        // language: scala (host-language snippet) | javascript (the
        // reference's script_procedure language, on JsInterp/JsHost) |
        // python (out-of-process python3, PyBridge — the reference's
        // external-python path with the same mldb.query/args surface)
        import graft.js.JsInterp.JsObjV
        val args = jsonValue("args")
        if (param("language").contains("javascript")) {
          // logs + status mirror the reference's ScriptOutput
          // (MLDB-642: run body `status` = the script's return value,
          // details `logs[i].c` = mldb.log/plugin.log lines); the
          // `result` key stays for this engine's earlier surface
          val sink = scala.collection.mutable.ArrayBuffer.empty[String]
          val result = JsHost.run(spark, dataset,
            scriptSource, Map.empty, engine = this, logSink = sink,
            pluginArgs = args)
          val logs = sink.map(l =>
            s"""{"c": ${PyBridge.jstr(l)}}""").mkString("[", ",", "]")
          s"""{"result": ${JsHost.resultJson(result)}, """ +
            s""""status": ${JsHost.resultJson(result)}, "logs": $logs}"""
        } else if (param("language").contains("python")) {
          val scriptArgs = args match {
            case Some(o: JsObjV) =>
              o.fields.map { case (k, v) => k -> ProcJson.paramString(v) }.toMap
            case _ => Map.empty[String, String]
          }
          // `args` lands as mldb.script.args verbatim (MLDB-642 logs
          // a bare string arg)
          val r = PyBridge.run(spark, dataset, scriptSource, scriptArgs,
            scriptArgsJson = args.map(ProcJson.stringify), httpPort = restPort)
          // logs = stdout prints then mldb.log entries (the entries
          // also echo on stderr; the log-file channel keeps multi-line
          // pretty-printed values whole — python_mldb_log)
          val logLines =
            r.stdout.split("\n").filter(_.nonEmpty).toSeq ++ r.logs
          val logs = logLines.map(l =>
            s"""{"c": ${PyBridge.jstr(l)}}""").mkString("[", ",", "]")
          val core = PyBridge.resultJson(r)
          s"""{"status": ${r.returnJson.getOrElse("null")}, """ +
            s""""logs": $logs, """ + core.trim.drop(1)
        } else {
          val result = Scripting.run(spark, scriptSource)
          (result, param("outputDataset")) match {
            case (df: DataFrame, Some(_)) => registerOut(df)
            case _ => s"""{"result": ${JsonRow.scalarJson(result)}}"""
          }
        }
      },
      "experimental.external.procedure" -> proc() { call => import call._
        // `experimental.external.procedure`
        // (`builtin/external_python_procedure.cc`; MLDB-694): run an
        // external python script, piping `stdInData` to its stdin; the
        // run's status carries the script's last-line JSON as `return`
        val r = PyBridge.run(spark, dataset, scriptSource,
          stdinData = param("stdInData"), httpPort = restPort)
        if (r.returnCode != 0) throw new IllegalArgumentException(
          s"external procedure failed: ${r.stderr}")
        s"""{"status": ${PyBridge.resultJson(r)}}"""
      },
      "ranking" -> proc(needsFrom = true) { call => import call._
        // `ranking` (`builtin/ranking_procedure.cc:199`;
        // testing/ranking_test.py): rank the inputData's rows by its
        // ORDER BY clause; the output dataset maps each rowName to a
        // 0-based index under `rankingColumnName` (default "rank").
        // `index` is the only rankingType the reference's enum
        // accepts. The global index is partition-offset numbering
        // (DfOps.globalRowNumber) — no SinglePartition window. The
        // reference stamps cells with the max ORDER BY cell timestamp;
        // wide mode's analog is the input's max row ts (documented
        // divergence: per-cell timestamps collapse to the row max).
        param("rankingType").foreach { t =>
          if (t != "index") throw new IllegalArgumentException(
            s"rankingType '$t' is not supported; the only accepted " +
              "value is 'index'")
        }
        import graft.sql.Ast._
        import org.apache.spark.sql.functions._
        val stmt = graft.sql.Parser.parse(req("inputData"))
        if (stmt.from.isEmpty) throw new IllegalArgumentException(
          "ranking input query must contain a FROM clause")
        val ordItems = stmt.orderBy.zipWithIndex.map { case (o, i) =>
          SelectItem(o.e, Some(s"__ord$i")) }
        val stmt2 = stmt.copy(items =
          SelectItem(FnCall("rowname", Seq.empty), Some("rowName")) +:
            SelectItem(Ident(Seq("ts")), Some("__ts")) +: ordItems)
        val df0 = queryStmt(stmt2)
        val ordCols = stmt.orderBy.zipWithIndex.map { case (o, i) =>
          if (o.asc) col(s"__ord$i").asc else col(s"__ord$i").desc }
        val ranked = graft.core.DfOps.globalRowNumber(df0, ordCols, "__idx")
        val rankCol = param("rankingColumnName").getOrElse("rank")
        val maxTs = Option(df0.agg(max(col("__ts"))).head().get(0))
        val base = ranked.select(col("rowName"),
          (col("__idx") - 1L).as(rankCol))
        registerOut(maxTs match {
          case Some(t) => base.withColumn("ts", lit(t))
          case None => base
        })
      },

      "summary.statistics" -> proc() { call => import call._
        // `summary.statistics` (`builtin/summary_statistics_proc.cc:516`;
        // testing/summary_stats_proc_test.py): one output row per
        // selected column with the reference's value.* cells. The
        // select may only name plain columns or wildcards.
        import graft.sql.Ast._
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types._
        val stmt = graft.sql.Parser.parse(req("inputData"))
        if (stmt.from.isEmpty) throw new IllegalArgumentException(
          "summary.statistics input query must contain a FROM clause")
        stmt.items.foreach {
          case SelectItem(_: Star, _) => ()
          case SelectItem(Ident(_), _) => ()
          case SelectItem(e, _) => throw new IllegalArgumentException(
            s"'${e}' is not a supported SELECT value expression for " +
              "summary.statistics")
        }
        val df0 = queryStmt(stmt)
        // flatten struct (row-valued) columns to dotted leaves, like
        // the reference's path-flattened column set; drop the carried
        // rowName / ts bookkeeping columns
        def leaves(prefix: String,
            dt: DataType): Seq[(String, org.apache.spark.sql.Column)] =
          dt match {
            case st: StructType => st.fields.toSeq.flatMap(f =>
              leaves(s"$prefix.${f.name}", f.dataType).map {
                case (n, _) => (n, col(s"`$prefix`").getField(f.name))
              })
            case _ => Seq((prefix, col(s"`$prefix`")))
          }
        val statCols = df0.schema.fields.toSeq
          .filterNot(f => f.name.equalsIgnoreCase("rowName") ||
            f.name.equalsIgnoreCase("ts") || f.name.startsWith("__"))
          .flatMap(f => leaves(f.name, f.dataType))
        if (statCols.isEmpty) throw new IllegalArgumentException(
          "summary.statistics input selects no columns")
        val flat = df0.select(statCols.map { case (n, c) => c.as(n) }: _*)
        val sums = graft.procedures.Procedures
          .summaryStatisticsReference(flat, statCols.map(_._1))
        // assemble the output: fixed value.* stats + the union of
        // most-frequent item columns (≤ 10 per input column)
        val statFields = Seq(
          ("value.data_type", StringType), ("value.num_null", LongType),
          ("value.num_unique", LongType), ("value.min", DoubleType),
          ("value.max", DoubleType), ("value.avg", DoubleType),
          ("value.stddev", DoubleType), ("value.1st_quartile", DoubleType),
          ("value.median", DoubleType), ("value.3rd_quartile", DoubleType))
        val freqNames = sums.flatMap(_.mostFrequent.map(_._1)).distinct
        val schema = StructType(
          StructField("rowName", StringType) +:
            statFields.map { case (n, t) => StructField(n, t) } ++:
            freqNames.map(n =>
              StructField(s"value.most_frequent_items.$n", LongType)))
        val rows = sums.map { s =>
          val rn = if (s.column.contains('.')) "\"" + s.column + "\""
            else s.column
          val freq = s.mostFrequent.toMap
          org.apache.spark.sql.Row.fromSeq(
            rn +: statFields.map { case (n, _) =>
              s.stats.get(n.stripPrefix("value.")).orNull
            } ++: freqNames.map(n =>
              freq.get(n).map(Long.box).orNull))
        }
        registerOut(spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema))
      },

      "serial" -> proc(check = { call => import call._
          // the reference rejects self-containment at CONSTRUCTION
          // (basic_procedures.cc:113; MLDB-621's deadlock PUT) — a step
          // whose id names the procedure being created is a 400
          json("steps").foreach {
            case a: graft.js.JsInterp.JsArrV => a.elems.foreach { s =>
              if (entityId.isDefined && ProcJson.str(s, "id") == entityId)
                throw new IllegalArgumentException(
                  "Procedure contains itself as a child")
            }
            case _ => ()
          }
        }) { call => import call._
        // `serial` (`builtin/basic_procedures.cc:64-180`;
        // testing/serial_procedure_test.py): run child procedure
        // CONFIGS in order through this same dispatch; a step that
        // names this procedure's own id is the reference's
        // "Procedure contains itself as a child" 400 (MLDB-621).
        val steps = json("steps") match {
          case Some(a: graft.js.JsInterp.JsArrV) => a.elems.toSeq
          case _ => throw new IllegalArgumentException("serial needs steps")
        }
        val results = steps.map { s =>
          val stepType = ProcJson.str(s, "type").getOrElse(
            throw new IllegalArgumentException("serial step needs a type"))
          val stepId = ProcJson.str(s, "id")
          if (stepId.isDefined && stepId == entityId)
            throw new IllegalArgumentException(
              "Procedure contains itself as a child")
          runProcedure(stepType, ProcJson.lookup(s), stepId)
        }
        s"""{"steps": ${results.mkString("[", ",", "]")}}"""
      },

      "permuter.run" -> proc() { call => import call._
        // `permuter.run` (`builtin/permuter_procedure.cc:143-230`;
        // testing/MLDB-991_permuter_procedure.py): cartesian sweep of
        // the `permutations` grid over the child `procedure` config —
        // each leaf list contributes one axis; "$permutation" in any
        // string expands to "permutation_<n>". Returns one
        // {configuration, results} entry per combination, like the
        // reference's RunOutput array.
        import graft.js.JsInterp.{JsArrV, JsObjV, JsStr, JsVal}
        val procCfg = json("procedure").getOrElse(
          throw new IllegalArgumentException("permuter.run needs procedure"))
        val perms = json("permutations").getOrElse(
          throw new IllegalArgumentException(
            "permuter.run needs permutations"))
        val childType = ProcJson.str(procCfg, "type").getOrElse(
          throw new IllegalArgumentException(
            "permuter.run child procedure needs a type"))
        val baseJson = ProcJson.field(procCfg, "params")
          .map(ProcJson.stringify).getOrElse("{}")
        // flatten the grid to (path, values) axes, reference order
        val axes = scala.collection.mutable.ArrayBuffer
          .empty[(Seq[String], Seq[JsVal])]
        def flattenGrid(v: JsVal, path: Seq[String]): Unit = v match {
          case o: JsObjV => o.fields.foreach { case (k, inner) =>
            inner match {
              case a: JsArrV => axes += ((path :+ k, a.elems.toSeq))
              case _: JsStr => throw new IllegalArgumentException(
                "Invalid data type for permutation")
              case nested: JsObjV => flattenGrid(nested, path :+ k)
              case _ => throw new IllegalArgumentException(
                "unsupported type!")
            }
          }
          case _ => throw new IllegalArgumentException(
            "permutations must be an object")
        }
        flattenGrid(perms, Seq.empty)
        var permNum = 0
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        def setPath(conf: JsVal, path: Seq[String], v: JsVal): Unit = {
          var loc = conf
          path.init.foreach { k =>
            val o = loc.asInstanceOf[JsObjV]
            loc = o.fields.getOrElseUpdate(k,
              new JsObjV(scala.collection.mutable.LinkedHashMap.empty))
          }
          loc.asInstanceOf[JsObjV].fields(path.last) = v
        }
        def runOne(choices: Seq[JsVal]): Unit = {
          permNum += 1
          val conf = ProcJson.parse(baseJson)
          axes.zip(choices).foreach { case ((path, _), v) =>
            setPath(conf, path, v) }
          val confJson = ProcJson.stringify(conf)
            .replace("$permutation", s"permutation_$permNum")
          val res = runProcedure(childType,
            ProcJson.lookup(ProcJson.parse(confJson)), None)
          out += s"""{"configuration": $confJson, "results": $res}"""
        }
        def recur(axis: Int, acc: Seq[JsVal]): Unit =
          if (axis == axes.size) runOne(acc)
          else axes(axis)._2.foreach(v => recur(axis + 1, acc :+ v))
        if (axes.isEmpty) runOne(Seq.empty) else recur(0, Seq.empty)
        out.mkString("[", ",", "]")
      },

      "import.word2vec" -> proc() { call => import call._
        // `import.word2vec` (`plugins/nlp/word2vec.cc:248`;
        // testing/MLDB-1019-word2vec.js): load the word2vec binary
        // into an embedding dataset — rowName from the `named`
        // expression over {word} (default `word`), columns "0".."d-1".
        import org.apache.spark.sql.functions._
        val url = req("dataFileUrl")
        val path = url.stripPrefix("file://")
        val outId = param("outputDataset").getOrElse(
          throw new IllegalArgumentException(
            "import.word2vec needs outputDataset"))
        val offset = param("offset").map(_.toLong).getOrElse(0L)
        val limit = param("limit").map(_.toLong).getOrElse(-1L)
        val raw = graft.sources.Word2Vec.read(spark, path, offset, limit)
        val namedExpr = param("named").getOrElse("word")
        val named = graft.sql.Lowering.run(
          dialect(n => if (n == "__w2v_src") raw else dataset(n)),
          graft.sql.Parser.parse(
            s"select ($namedExpr) as rowName, embedding from __w2v_src"))
        val dim = named.select(col("embedding")).limit(1).collect()
          .headOption.map(_.getAs[scala.collection.Seq[Float]](0).size)
          .getOrElse(0)
        val wide = named.select(col("rowName").cast("string").as("rowName") +:
          (0 until dim).map(i =>
            element_at(col("embedding"), i + 1).cast("double")
              .as(i.toString)): _*)
        registerOut(wide)
      })
    table ++ table.values.flatMap(p => p.aliases.map(_ -> p))
  }
}

/** The one reading of a typed `{type, params}` config
  * (`core/procedure.h`; SURVEY §2.7). A REST body, a `serial` or
  * `permuter.run` child, a nested dataset config and a JS plugin's
  * config object are each parsed once with the engine's JSON parser;
  * every param is then found by `lookup` and rendered by
  * `paramString`, so a config reads the same on every path. */
private[graft] object ProcJson {
  import graft.js.JsInterp
  import graft.js.JsInterp._

  def parse(s: String): JsVal = JsInterp.jsonParse(s)

  /** A request body: empty is `JsNull`, text that is not JSON is the
    * client's 400. */
  def body(s: String): JsVal =
    if (s.trim.isEmpty) JsNull
    else try parse(s)
    catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalArgumentException(
        s"request body is not valid JSON: ${e.getMessage}")
    }

  def field(v: JsVal, k: String): Option[JsVal] = v match {
    case o: JsObjV => o.fields.get(k)
    case _ => None
  }
  def str(v: JsVal, k: String): Option[String] =
    field(v, k).collect { case JsStr(s) => s }
  def stringify(v: JsVal): String =
    JsInterp.jsonStringify(v).getOrElse("null")

  /** A recorded cell as JSON text. A number whose literal had a
    * fraction or an exponent stays a decimal (`5.0`, not `5`), so the
    * column it lands in reads as a double. */
  def cell(v: JsVal): String = {
    val s = stringify(v)
    v match {
      case n: JsNum if n.decimal && s.forall(c => c == '-' || c.isDigit) =>
        s + ".0"
      case _ => s
    }
  }

  /** Param `k` of the first config that sets it, reading `params.k`,
    * else the top-level `k`. Earlier configs win (a run body's over
    * its stored config's); a JSON null is unset. */
  def lookup(configs: JsVal*): String => Option[JsVal] = k =>
    configs.iterator.flatMap(c =>
      field(c, "params").flatMap(field(_, k)).orElse(field(c, k)))
      .find(v => v != JsNull && v != JsUndef)

  /** A script's text: `source`, else `scriptConfig.source` (the
    * reference's script resource config). */
  def scriptSource(find: String => Option[JsVal]): Option[String] =
    find("source").map(paramString)
      .orElse(find("scriptConfig").flatMap(str(_, "source")))

  /** `lookup`, rendered by `paramString`. */
  def params(configs: JsVal*): String => Option[String] = {
    val find = lookup(configs: _*)
    k => find(k).map(paramString)
  }

  private def isScalarOrId(v: JsVal): Boolean = v match {
    case JsStr(_) | JsNum(_) | JsBool(_) => true
    case o: JsObjV => str(o, "id").isDefined
    case _ => false
  }

  /** A config value as param text: strings as they are, whole numbers
    * below 2^53 as integers, booleans as true/false, an object with an
    * id as that id, a flat array of scalars or {id} objects as a comma
    * list, anything else as JSON text. */
  def paramString(v: JsVal): String = v match {
    case JsStr(s) => s
    case JsNum(d) =>
      if (d.isWhole && math.abs(d) < 9007199254740992.0) d.toLong.toString
      else d.toString
    case JsBool(b) => b.toString
    case o: JsObjV => str(o, "id").getOrElse(stringify(o))
    case a: JsArrV if a.elems.forall(isScalarOrId) =>
      a.elems.map(paramString).mkString(",")
    case other => stringify(other)
  }
}

/** Request/response envelopes for plugin route dispatch
  * (`builtin/plugin.h` handleRequest: verb, resource, ORDERED rest
  * params, payload; `request.set_return(v, code)` picks the status —
  * MLDB-2114/444). */
object GraftEngine {
  final case class PluginReq(route: String, verb: String,
      params: Seq[(String, String)], payload: String)
  final case class PluginHttp(status: Int, json: String)

  /** ISO-8601 UTC with MINIMAL fractional digits — the reference's
    * Date::print ("…20.96Z", never java's 3-digit group "…20.960Z";
    * whole seconds carry no fraction). */
  def isoMinimal(i: java.time.Instant): String = {
    val s = i.toString
    if (!s.contains('.')) s
    else s.stripSuffix("Z").reverse.dropWhile(_ == '0').reverse
      .stripSuffix(".") + "Z"
  }

  /** `Date::quantize` (`types/date.cc:437`; MLDB-987): quanta ≤ 1 s
    * ROUND the sub-second fraction to the nearest period; quanta > 1 s
    * FLOOR whole seconds to the quantum (must be integral). */
  /** Lenient string → instant: ISO instant, offset datetime, a
    * space-or-'T' local datetime (read as UTC), or a bare date. The
    * ONE parser for every surface that must order mixed-format
    * timestamp strings (continuous.window boundaries, record-route ts
    * cells). */
  def lenientInstant(s: String): Option[java.time.Instant] = {
    val t = s.trim.replace(' ', 'T')
    if (t.isEmpty) None
    else try Some(java.time.Instant.parse(t))
    catch { case _: Exception =>
      try Some(java.time.OffsetDateTime.parse(t).toInstant)
      catch { case _: Exception =>
        try Some(java.time.LocalDateTime.parse(t)
          .toInstant(java.time.ZoneOffset.UTC))
        catch { case _: Exception =>
          try Some(java.time.LocalDate.parse(s.trim)
            .atStartOfDay.toInstant(java.time.ZoneOffset.UTC))
          catch { case _: Exception => None }
        }
      }
    }
  }

  def quantizeInstant(inst: java.time.Instant,
      quantum: Double): java.time.Instant = {
    require(quantum > 0.0, "timeQuantumSeconds must be positive")
    if (quantum <= 1.0) {
      val pps = math.round(1.0 / quantum).toDouble
      val partial = math.round(inst.getNano / 1e9 * pps) / pps
      java.time.Instant.ofEpochSecond(inst.getEpochSecond)
        .plusNanos(math.round(partial * 1e9))
    } else {
      val f = quantum.toLong
      if (f.toDouble != quantum) throw new IllegalArgumentException(
        "non-integral numbers of seconds not supported")
      // floorDiv, not /: pre-epoch seconds must floor toward -∞, or a
      // negative timestamp lands in the LATER quantum bucket
      java.time.Instant.ofEpochSecond(
        java.lang.Math.floorDiv(inst.getEpochSecond, f) * f)
    }
  }
}
