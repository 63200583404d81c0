package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{array_contains, coalesce, col, element_at, explode, expr, from_csv, from_json, length, lit, regexp_replace, to_json, transform, when}
import org.apache.spark.sql.types.StructType

/** File sources/sinks (SURVEY §2.7 import/export procedures).
  *
  * Mirrors the reference's `import.text` config surface
  * (`/root/reference/plugins/textual/importtext_procedure.cc:43-99`:
  * headers, delimiter, quoteChar, encoding, ignoreBadLines,
  * autoGenerateHeaders, limit/offset, select/where post-transforms)
  * onto `spark.read.csv` options. The reference's multithreaded
  * chunked parse (`forEachLineBlock :1321`) is exactly Spark's
  * splittable text reading — one partition per file split, schema
  * inference optional — so the parallelism comes for free and scales
  * past one node.
  */
object Sources {

  /** Mirror of the reference's ImportTextConfig
    * (`plugins/textual/importtext_procedure.cc:43-115`), field for
    * field where Spark has an analog:
    *  - `headerNames` = the reference's `headers` list (names supplied
    *    when the file has no header row);
    *  - `preHeaderOffset` / `skipLineRegex` / `processExcelFormulas`
    *    are LINE-level options, so they route the read through
    *    `spark.read.csv(Dataset[String])` — incompatible with
    *    `allowMultiLines`, exactly as the reference warns;
    *  - `select`/`where`/`named`/`timestamp` are the post-import SQL
    *    expressions, applied through the session's SQL engine (full
    *    select-list syntax); `named`/`timestamp` add the reference's
    *    `rowName`/`ts` columns when supplied (defaulting them to
    *    lineNumber()/fileTimestamp() would force a line-level read,
    *    so unlike the reference they are opt-in);
    *  - `ignoreExtraColumns` maps to Spark's PERMISSIVE parse mode,
    *    which truncates extra tokens to the header width
    *    (MLDB-2169); nuance: rows with too FEW columns then read as
    *    nulls rather than erroring;
    *  - a trailing empty header cell and its (empty) values drop,
    *    like the reference's trailing-comma handling (MLDB-1649);
    *  - `structuredColumnNames` (MLDB-1638): header cells hold PATH
    *    text. false (default) treats each header as ONE path element —
    *    a header containing dots/quotes gets element-quoted (`c.a` →
    *    `"c.a"`); true parses the header as a structured path and
    *    re-prints it canonically (`c.a` stays `c.a`, a quoted `"d.a"`
    *    stays one element). Spark columns are flat strings, so the
    *    choice is applied to the NAME at import time — exactly the
    *    printed form the reference's table format shows.
    * uint64 note (SURVEY §1.2): with inference, integers beyond
    * int64 (e.g. 2^64-1) import as DECIMAL(20,0) — Spark's CSV
    * inference tries int → bigint → decimal — so the reference's full
    * uint64 range round-trips exactly; supply a schema to force a
    * different type. Spec-pinned in ProceduresSpec. */
  final case class TextImportConfig(
      delimiter: String = ",",
      quoteChar: String = "\"",
      encoding: String = "UTF-8",
      headers: Boolean = true,
      headerNames: Seq[String] = Nil,
      autoGenerateHeaders: Boolean = false,
      ignoreBadLines: Boolean = false,
      ignoreExtraColumns: Boolean = false,
      allowMultiLines: Boolean = false,
      limit: Option[Int] = None, // negative = unlimited (MLDB-749 passes -1)
      offset: Int = 0,
      preHeaderOffset: Int = 0,
      skipLineRegex: Option[String] = None,
      processExcelFormulas: Boolean = false,
      select: String = "*",
      where: String = "true",
      named: Option[String] = None,
      timestamp: Option[String] = None,
      replaceInvalidCharactersWith: Option[String] = None,
      schema: Option[StructType] = None,
      structuredColumnNames: Boolean = false)

  /** Header text → stored column name per `structuredColumnNames`
    * (driver-side twins of PathFunctions.parsePath/stringifyPath). */
  private[sources] def headerToColumnName(h: String,
      structured: Boolean): String = {
    def printElem(e: String): String =
      if (e.exists(c => c == '.' || c == '"'))
        "\"" + e.replace("\"", "\"\"") + "\"" else e
    if (!structured) printElem(h)
    else {
      val tok = "(\"(?:[^\"]|\"\")*\"|[^.]+)".r
      val elems = tok.findAllMatchIn(h).map(_.group(1)).map { t =>
        if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\""))
          t.substring(1, t.length - 1).replace("\"\"", "\"")
        else t
      }.toSeq
      if (elems.isEmpty) h else elems.map(printElem).mkString(".")
    }
  }

  /** Formats Spark cannot read natively (.lz4 frame, .zst, .zip) are
    * decompressed once driver-side to a temp file, then parsed
    * distributed like any text (MLDB-1140 compression battery). None
    * of these formats is splittable, so the single decompression
    * stream is what any engine pays; .gz/.bz2 stay on Spark's native
    * codec path. */
  private def maybeDecompress(path: String): String = {
    val lower = path.toLowerCase
    def viaStream(open: java.io.InputStream => java.io.InputStream,
        suffix: String): String = {
      val raw = new java.io.BufferedInputStream(
        new java.io.FileInputStream(path.stripPrefix("file://")))
      val in = open(raw)
      val tmp = java.io.File.createTempFile("graft_import_", suffix)
      tmp.deleteOnExit()
      try java.nio.file.Files.copy(in, tmp.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      tmp.getAbsolutePath
    }
    // magic-sniff: a mislabeled extension over plain text reads as-is
    // (the reference's own MLDB-1140 .zip fixture is plain text)
    def magic(bytes: Int*): Boolean = {
      val in = new java.io.FileInputStream(path.stripPrefix("file://"))
      try {
        val head = new Array[Byte](bytes.length)
        in.read(head) == bytes.length &&
          head.toSeq == bytes.map(_.toByte)
      } finally in.close()
    }
    if (lower.endsWith(".lz4") && magic(0x04, 0x22, 0x4d, 0x18))
      viaStream(new net.jpountz.lz4.LZ4FrameInputStream(_), ".csv")
    else if ((lower.endsWith(".zst") || lower.endsWith(".zstd")) &&
        magic(0x28, 0xb5, 0x2f, 0xfd))
      viaStream(new com.github.luben.zstd.ZstdInputStream(_), ".csv")
    else if (lower.endsWith(".zip") && magic(0x50, 0x4b, 0x03, 0x04))
      viaStream(raw => {
        val z = new java.util.zip.ZipInputStream(raw)
        if (z.getNextEntry == null)
          throw new IllegalArgumentException(s"$path: empty zip archive")
        z
      }, ".csv")
    else path
  }

  /** `archive+file://<archive>#<member>` URIs (`vfs_handlers/
    * archive.cc` — MLDB-900): any zip-layout archive (zip/jar) opens
    * by member name. The member extracts to a temp file so the
    * splittable readers downstream see a plain path. */
  def isArchiveUrl(url: String): Boolean = url.startsWith("archive+")

  private def archiveParts(url: String): (String, String) = {
    val noScheme = url.stripPrefix("archive+").stripPrefix("file://")
    noScheme.split("#", 2) match {
      case Array(a, m) => (a, m)
      case _ => throw new IllegalArgumentException(
        s"archive url '$url' has no #member part")
    }
  }

  /** Member names of an archive, as full `archive+…#member` URIs
    * (the shape `mldb.ls` returns). */
  def listArchive(url: String): Seq[String] = {
    val path = url.stripPrefix("archive+").stripPrefix("file://")
      .split("#", 2)(0)
    val zf = new java.util.zip.ZipFile(path)
    try {
      val es = zf.entries()
      val out = Seq.newBuilder[String]
      while (es.hasMoreElements) {
        val e = es.nextElement()
        if (!e.isDirectory)
          out += s"archive+file://$path#${e.getName}"
      }
      out.result()
    } finally zf.close()
  }

  /** Extract one member to a temp file; returns its path. */
  def resolveArchiveMember(url: String): String = {
    val (path, member) = archiveParts(url)
    val zf = new java.util.zip.ZipFile(path)
    try {
      val entry = Option(zf.getEntry(member)).getOrElse(
        throw new IllegalArgumentException(
          s"archive '$path' has no member '$member'"))
      val suffix = "." + (member.split('.').lastOption.getOrElse("dat"))
      val tmp = java.io.File.createTempFile("graft_archive_", suffix)
      tmp.deleteOnExit()
      val in = zf.getInputStream(entry)
      try java.nio.file.Files.copy(in, tmp.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      tmp.getAbsolutePath
    } finally zf.close()
  }

  /** The one existence check of every file import: a missing local
    * input is the reference's open error, verbatim shape
    * (testing/MLDB-1395-error-message-file-doesnt-exist.js). Globs are
    * left to the reader. Returns the path without its `file://`. */
  def requireFile(url: String): String = {
    val raw = url.stripPrefix("file://")
    if (!raw.contains("*") && !new java.io.File(raw).exists())
      throw new IllegalArgumentException(
        s"Opening file $raw: No such file or directory")
    raw
  }

  /** `import.text` — CSV/TSV import. */
  def importText(spark: SparkSession, path00: String,
      cfg: TextImportConfig = TextImportConfig()): DataFrame = {
    val path0 =
      if (isArchiveUrl(path00)) resolveArchiveMember(path00) else path00
    requireFile(path0)
    val path = maybeDecompress(path0)
    val hasHeaderRow0 =
      cfg.headers && !cfg.autoGenerateHeaders && cfg.headerNames.isEmpty
    // a header-less offset must skip raw LINES before the typed parse —
    // the skipped lines may not even parse (MLDB-1140's metadata line)
    val lineOffset = if (!hasHeaderRow0 && cfg.offset > 0) cfg.offset else 0
    val lineLevel = cfg.preHeaderOffset > 0 || cfg.skipLineRegex.nonEmpty ||
      cfg.processExcelFormulas || lineOffset > 0 ||
      cfg.replaceInvalidCharactersWith.nonEmpty
    require(!(lineLevel && cfg.allowMultiLines),
      "preHeaderOffset/skipLineRegex/processExcelFormulas are line-level " +
        "options and cannot combine with allowMultiLines (records span lines)")
    require(!(cfg.headerNames.nonEmpty && cfg.autoGenerateHeaders),
      // the reference's exact message (import_text_test.py
      // test_conflicting_header_config)
      "autoGenerateHeaders cannot be true if headers is defined.")
    // Shared post-import tail (named/timestamp/select/where) — both the
    // empty-delimiter path and the normal CSV path route through it, so
    // select/where/named behave identically whatever the delimiter.
    def postImport(df: DataFrame, applyNamed: Boolean): DataFrame = {
      val d4 =
        if (applyNamed) cfg.named.foldLeft(df)((d, e) =>
          d.withColumn("rowName", expr(e).cast("string")))
        else df
      val d5 = cfg.timestamp.foldLeft(d4)((d, e) =>
        d.withColumn("ts", expr(e).cast("timestamp")))
      if (cfg.select == "*" && cfg.where == "true") d5
      else {
        val view =
          s"__graft_import_${java.util.UUID.randomUUID.toString.replace("-", "")}"
        d5.createOrReplaceTempView(view)
        // the reference's star-exclusion spelling → Spark's
        val select =
          cfg.select.replaceAll("(?i)\\*\\s*EXCLUDING\\s*\\(", "* EXCEPT(")
        try {
          val out = spark.sql(s"SELECT $select FROM $view WHERE ${cfg.where}")
          // the reference rejects row-valued import projections
          // (MLDB-1891: tabular output cells are atoms)
          require(!out.schema.fields.exists(
            _.dataType.isInstanceOf[StructType]),
            "Import select expression cannot have row-valued columns")
          out
        } finally spark.catalog.dropTempView(view)
      }
    }
    // an EMPTY delimiter imports each line as one value (MLDB-1502:
    // delimiter "" + quoteChar "" + headers ['customLine']). quoteChar
    // is a no-op here — there is no field splitting to quote against.
    if (cfg.delimiter.isEmpty) {
      import spark.implicits._
      val colName =
        if (cfg.headerNames.nonEmpty) {
          require(cfg.headerNames.length == 1,
            "an empty delimiter yields exactly one column")
          cfg.headerNames.head
        } else if (cfg.autoGenerateHeaders) "0"
        else if (hasHeaderRow0)
          // headers: true without explicit names — the first line IS the
          // (single) column name, like the CSV path's header row
          spark.read.option("encoding", cfg.encoding).text(path)
            .limit(1).as[String].collect().headOption.getOrElse("lineText")
        else "lineText"
      val namedIsLineNumber = cfg.named.exists(_.replaceAll("\\s", "")
        .equalsIgnoreCase("lineNumber()"))
      // `named: lineNumber()` composes (MLDB-1503: rows named by
      // source line, data starts at line 1 when no header row exists;
      // with one, the header keeps line 1 and data starts at 2)
      var lines: DataFrame =
        if (namedIsLineNumber) {
          val numbered = spark.read.option("encoding", cfg.encoding)
            .text(path).rdd.zipWithIndex.map { case (row, i) =>
              org.apache.spark.sql.Row(row.getString(0),
                String.valueOf(i + 1L))
            }
          val df = spark.createDataFrame(numbered, StructType(Seq(
            org.apache.spark.sql.types.StructField(colName,
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("rowName",
              org.apache.spark.sql.types.StringType))))
          if (hasHeaderRow0) df.filter(col("rowName") =!= "1") else df
        } else {
          val df = spark.read
            .option("encoding", cfg.encoding).text(path).toDF(colName)
          if (hasHeaderRow0) df.offset(1) else df
        }
      if (cfg.offset > 0) lines = lines.offset(cfg.offset)
      val bounded = cfg.limit.filter(_ >= 0).map(lines.limit).getOrElse(lines)
      return postImport(bounded, applyNamed = !namedIsLineNumber)
    }
    val hasHeaderRow = hasHeaderRow0
    // the reference accepts latin1/utf8-style aliases
    // (`plugins/textual/importtext_procedure.cc` parse_encoding)
    val encoding = cfg.encoding.toLowerCase.replace("-", "").replace("_", "") match {
      case "latin1" | "iso88591" => "ISO-8859-1"
      case "latin2" | "iso88592" => "ISO-8859-2"
      case "utf8" => "UTF-8"
      case "utf16" => "UTF-16"
      case "utf32" => "UTF-32"
      case "ascii" | "usascii" => "US-ASCII"
      case _ => cfg.encoding
    }
    var r = spark.read
      .option("sep", cfg.delimiter)
      .option("quote", cfg.quoteChar)
      .option("encoding", encoding)
      .option("header", hasHeaderRow)
      .option("mode",
        if (cfg.ignoreExtraColumns) "PERMISSIVE"
        else if (cfg.ignoreBadLines) "DROPMALFORMED" else "FAILFAST")
      .option("multiLine", cfg.allowMultiLines)
    cfg.schema match {
      case Some(s) => r = r.schema(s)
      case None => r = r.option("inferSchema", true)
    }
    // `named: lineNumber()` — the reference's DEFAULT row naming
    // (rows named by source line, header = line 1, MLDBFB-192). Stays
    // opt-in here (a typed import shouldn't always pay the line pass):
    // text-with-index scan → from_csv per line, fully distributed.
    val namedLineNumbers = cfg.named.exists(
      _.replaceAll("\\s", "").equalsIgnoreCase("lineNumber()"))
    if (namedLineNumbers) {
      require(!cfg.autoGenerateHeaders && cfg.preHeaderOffset == 0 &&
          lineOffset == 0,
        "named: lineNumber() supports plain header-row imports only")
      // line-level transforms compose with line numbering (the
      // MLDB-2170 formulas file names rows by SOURCE line): number
      // first, then clean each line
      val lines = spark.read.option("encoding", encoding).text(path)
        .rdd.zipWithIndex.map { case (row, i) =>
          org.apache.spark.sql.Row(row.getString(0), i + 1L)
        }
      var withIdx = spark.createDataFrame(lines,
        StructType(Seq(
          org.apache.spark.sql.types.StructField("__line",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("__lineno",
            org.apache.spark.sql.types.LongType))))
      cfg.skipLineRegex.foreach { re =>
        withIdx = withIdx.filter(!col("__line").rlike("^(?:" + re + ")$"))
      }
      if (cfg.processExcelFormulas)
        withIdx = withIdx.withColumn("__line", regexp_replace(
          col("__line"), "=(\"[^\"]*\")", "$1"))
      cfg.replaceInvalidCharactersWith.foreach { repl =>
        withIdx = withIdx.withColumn("__line", regexp_replace(
          col("__line"),
          "[\u0000-\u0008\u000B\u000C\u000E-\u001F\uFFFD]",
          java.util.regex.Matcher.quoteReplacement(repl)))
      }
      // supplied headerNames mean the file has NO header row — data
      // starts at line 1 (MLDB-1428's iris rowName '1')
      val schema0 = cfg.schema.getOrElse {
        import spark.implicits._
        spark.read.option("sep", cfg.delimiter)
          .option("quote", cfg.quoteChar)
          .option("header", hasHeaderRow).option("inferSchema", true)
          .csv(withIdx.select(col("__line")).as[String]).schema
      }
      val schema =
        if (cfg.headerNames.isEmpty) schema0
        else {
          require(cfg.headerNames.length == schema0.fields.length,
            s"headerNames has ${cfg.headerNames.length} names but the " +
              s"file has ${schema0.fields.length} columns")
          StructType(schema0.fields.zip(cfg.headerNames).map {
            case (f, n) => f.copy(name = n)
          })
        }
      val data0 =
        if (hasHeaderRow) withIdx.filter(col("__lineno") > 1) else withIdx
      // `offset` skips the first N data LINES here (row names ARE line
      // numbers in this mode) — previously it was silently ignored on
      // the headered path
      val data1 =
        if (cfg.offset > 0) {
          val base = if (hasHeaderRow) 1 else 0
          data0.filter(col("__lineno") > base + cfg.offset)
        } else data0
      // blank lines don't parse as rows (Spark's CSV reader drops them;
      // the numbered path must too — a trailing newline otherwise
      // fabricates an all-null row)
      val data = data1.filter(
        org.apache.spark.sql.functions.length(col("__line")) > 0)
      val parsed = data.select(
        from_csv(col("__line"), schema,
          Map("sep" -> cfg.delimiter, "quote" -> cfg.quoteChar)).as("__r"),
        col("__lineno"))
        .select(col("__r.*"), col("__lineno").cast("string").as("rowName"))
      return postImport(cfg.limit.filter(_ >= 0).map(parsed.limit).getOrElse(parsed),
        applyNamed = false)
    }
    var preprocessedLines: Option[org.apache.spark.sql.Dataset[String]] = None
    val df0 = if (!lineLevel) r.csv(path) else {
      // line-level preprocessing: drop pre-header lines, skip lines by
      // (whole-line-anchored) regex, unwrap Excel ="..." formulas —
      // then hand the cleaned lines to the same CSV parser. Stays
      // distributed: text scan → per-row ops → csv(Dataset[String]).
      import spark.implicits._
      var lines = spark.read.option("encoding", encoding).text(path)
        .select(col("value"))
      if (cfg.preHeaderOffset > 0) lines = lines.offset(cfg.preHeaderOffset)
      if (lineOffset > 0) lines = lines.offset(lineOffset)
      cfg.skipLineRegex.foreach { re =>
        lines = lines.filter(!col("value").rlike("^(?:" + re + ")$"))
      }
      if (cfg.processExcelFormulas)
        lines = lines.select(regexp_replace(col("value"),
          "=(\"[^\"]*\")", "$1").as("value"))
      // replaceInvalidCharactersWith (MLDB-1703): NULs and other
      // control bytes swap for the configured character before parsing
      cfg.replaceInvalidCharactersWith.foreach { repl =>
        lines = lines.select(regexp_replace(col("value"),
          "[\u0000-\u0008\u000B\u000C\u000E-\u001F\uFFFD]",
          java.util.regex.Matcher.quoteReplacement(repl)).as("value"))
      }
      val cleaned = lines.as[String]
      preprocessedLines = Some(cleaned)
      r.csv(cleaned)
    }
    // a trailing comma in the header row yields an empty-named last
    // column (Spark auto-names it _cN); the reference drops it with
    // its (empty) values — MLDB-1649. The _cN auto-name alone is not
    // proof (a file may genuinely name its last column "_c3"), so
    // confirm against the RAW header line: it must end with the
    // delimiter outside of any quoted field.
    lazy val headerHasTrailingDelim: Boolean = {
      import spark.implicits._
      val firstLine = preprocessedLines match {
        case Some(ds) => ds.limit(1).collect().headOption
        case None => spark.read.option("encoding", encoding).text(path)
          .limit(1).as[String].collect().headOption
      }
      firstLine.exists { h =>
        h.endsWith(cfg.delimiter) &&
          (cfg.quoteChar.isEmpty ||
            h.count(_ == cfg.quoteChar.head) % 2 == 0)
      }
    }
    val df0t =
      if (hasHeaderRow && df0.columns.nonEmpty &&
          df0.columns.last == s"_c${df0.columns.length - 1}" &&
          headerHasTrailingDelim)
        df0.drop(df0.columns.last)
      else df0
    val df1 =
      if (cfg.autoGenerateHeaders)
        // the reference numbers generated headers 0..n-1
        // (import_text_test.py test_gen_headers, MLDB-1741)
        df0t.toDF(df0t.columns.indices.map(_.toString): _*)
      else if (cfg.headerNames.nonEmpty) {
        require(cfg.headerNames.length == df0t.columns.length,
          s"headerNames has ${cfg.headerNames.length} names but the file " +
            s"has ${df0t.columns.length} columns")
        df0t.toDF(cfg.headerNames: _*)
      } else df0t
    // structuredColumnNames (MLDB-1638): header text → path-printed
    // name. Only renames when a header carries dots/quotes, so plain
    // imports are untouched; schema-supplied names are authoritative.
    // Spark hands back header CELLS verbatim (no CSV quote
    // processing), so names read from the file unescape first.
    val df1n =
      if (cfg.schema.nonEmpty || cfg.autoGenerateHeaders) df1
      else {
        val fromFile = cfg.headerNames.isEmpty
        def csvUnescape(h: String): String =
          if (fromFile && cfg.quoteChar.nonEmpty && h.length >= 2 &&
              h.startsWith(cfg.quoteChar) && h.endsWith(cfg.quoteChar))
            h.substring(1, h.length - 1)
              .replace(cfg.quoteChar + cfg.quoteChar, cfg.quoteChar)
          else h
        val renamed = df1.columns.map(h =>
          headerToColumnName(csvUnescape(h), cfg.structuredColumnNames))
        if (renamed.sameElements(df1.columns)) df1 else df1.toDF(renamed: _*)
      }
    val df2 =
      if (cfg.offset > 0 && lineOffset == 0) df1n.offset(cfg.offset) else df1n
    val df3 = cfg.limit.filter(_ >= 0).map(df2.limit).getOrElse(df2)
    // post-import expressions (reference select/where/named/timestamp)
    postImport(df3, applyNamed = true)
  }

  /** `import.json` — line-JSON import
    * (`plugins/textual/json_importer.cc:427`). */
  def importJson(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    schema.map(spark.read.schema).getOrElse(spark.read).json(path)

  /** `import.json` full surface
    * (testing/MLDB-1266-import_json.py): rows named by LINE NUMBER
    * (1-based; `named` overrides, with `lineNumber()` available),
    * select/where post-expressions, invalid lines error unless
    * `ignoreBadLines`, nested objects keep their structure (dotted
    * leaves at the format layer), and `arrays`:
    *  - "encode" (the importer default): OBJECT elements become
    *    numbered columns holding their JSON text (`colD.0` =
    *    `{"a":1}`); SCALAR elements become set-member columns
    *    (`colD.abc` = 1) — the value set from one capped plan-time
    *    pass;
    *  - "parse": elements expand to numbered columns
    *    (arrays-of-struct → `colD.0.a`), the MLDB-1779 convention.
    * Fully distributed: text scan → from_json; only the schema
    * passes are bounded driver work. */
  def importJsonFull(spark: SparkSession, path0: String,
      select: String = "*", where: String = "true",
      named: Option[String] = None, ignoreBadLines: Boolean = false,
      arrays: String = "encode"): DataFrame = {
    import org.apache.spark.sql.types._
    requireFile(path0)
    val path = maybeDecompress(path0)
    val numbered0 = spark.read.text(path).rdd.zipWithIndex.map {
      case (row, i) => org.apache.spark.sql.Row(row.getString(0), i + 1L)
    }
    val numbered = spark.createDataFrame(numbered0, StructType(Seq(
      StructField("__line", StringType), StructField("__lineno", LongType))))
      .filter(org.apache.spark.sql.functions.length(col("__line")) > 0)
    // schema from the valid lines; a corrupt line errors at run unless
    // ignoreBadLines (the reference's contract). from_json is
    // PERMISSIVE (a bad line parses to an all-null row), so corruption
    // detection rides an explicit corrupt-record channel.
    import spark.implicits._
    val schema = spark.read.json(
      numbered.select(col("__line")).as[String]).schema
    val dataSchema =
      StructType(schema.fields.filterNot(_.name == "_corrupt_record"))
    val withCorrupt = StructType(dataSchema.fields :+
      StructField("__bad", StringType))
    val parsedAll = numbered.withColumn("__r",
      from_json(col("__line"), withCorrupt,
        Map("columnNameOfCorruptRecord" -> "__bad")))
    if (!ignoreBadLines) {
      val bad = parsedAll.filter(col("__r.__bad").isNotNull)
        .select(col("__lineno"), col("__line")).limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"import.json: could not parse line ${bad.head.getLong(0)}: " +
          bad.head.getString(1))
    }
    var df = parsedAll
      .filter(col("__r.__bad").isNull)
      .select(col("__lineno") +: dataSchema.fieldNames.toSeq.map(f =>
        col(s"__r.`$f`").as(f)): _*)
    // array handling
    val arrayCols = dataSchema.fields.filter(
      _.dataType.isInstanceOf[ArrayType]).toSeq
    arrayCols.foreach { f =>
      val at = f.dataType.asInstanceOf[ArrayType]
      val maxLen = graft.sql.PlanTime.maxArrayLen(df, col(s"`${f.name}`"),
        s"import.json arrays(${f.name})")
      val asStr: Column => Column = at.elementType match {
        case _: StructType => e => to_json(e)
        case _ => e => e.cast("string")
      }
      val strArr = transform(col(s"`${f.name}`"), asStr)
      def isObj(e: Column) = e.startsWith("{")
      if (arrays == "parse") {
        // numbered columns; OBJECT elements expand one level deeper
        // (colD.0.a — the MLDB-1779 convention). A column can mix
        // object and scalar elements across rows (json_dataset's
        // colD), so both shapes emit.
        val objSchema: Option[StructType] = {
          val objs = df.select(explode(strArr).as("__v"))
            .filter(isObj(col("__v")))
          val fields = graft.sql.PlanTime.jsonSchema(objs, col("__v"),
            s"import.json arrays(${f.name}) parse")
          if (fields.isEmpty) None else Some(StructType(fields.toArray))
        }
        (0 until maxLen).foreach { i =>
          val e = element_at(strArr, i + 1)
          objSchema match {
            case Some(st) =>
              df = df.withColumn(s"${f.name}.$i", when(!isObj(e), e))
              st.fieldNames.foreach(sf =>
                df = df.withColumn(s"${f.name}.$i.$sf",
                  from_json(e, st).getField(sf)))
            case None =>
              df = df.withColumn(s"${f.name}.$i", e)
          }
        }
        df = df.drop(f.name)
      } else { // encode
        // numbered columns for object elements, set-member columns for
        // scalar elements (capped value set). A VALUE that collides
        // with an index ("1") shares its column — typed engines hold
        // ONE type per column, so the merged column reads as text
        // (documented divergence from the reference's per-cell types).
        val vals = graft.sql.PlanTime.keys(
          df.select(explode(strArr).as("__v")).filter(!isObj(col("__v"))),
          col("__v"), s"import.json arrays(${f.name}) values")
        val numbered: Seq[(String, Column)] = (0 until maxLen).map { i =>
          val e = element_at(strArr, i + 1)
          s"${f.name}.$i" -> when(isObj(e), e)
        }
        val members: Seq[(String, Column)] = vals.map(v =>
          s"${f.name}.$v" ->
            when(array_contains(strArr, v), lit(1)))
        // group preserving a deterministic order: numbered columns by
        // index, then member columns by value (Map iteration order is
        // unspecified across JVMs)
        (numbered ++ members).groupBy(_._1).toSeq.sortBy { case (n, _) =>
          val idx = numbered.indexWhere(_._1 == n)
          (if (idx >= 0) 0 else 1, if (idx >= 0) f"$idx%09d" else n)
        }.foreach { case (n, cs) =>
          val merged =
            if (cs.size == 1) cs.head._2
            else coalesce(cs.map(_._2.cast("string")): _*)
          df = df.withColumn(n, merged)
        }
        df = df.drop(f.name)
      }
    }
    // named: a SQL expression over the row; lineNumber() reads the
    // source line. A row-valued name is the reference's error.
    named.foreach { n =>
      val ex = expr(n.replaceAll("(?i)lineNumber\\(\\)", "__lineno"))
      val tpe = df.select(ex.as("__nm")).schema.head.dataType
      if (tpe.isInstanceOf[StructType] || tpe.isInstanceOf[ArrayType] ||
          tpe.isInstanceOf[MapType])
        throw new IllegalArgumentException(
          s"Cannot convert value of type '${tpe.simpleString}' to row name")
      df = df.withColumn("rowName", ex.cast("string"))
    }
    if (named.isEmpty)
      df = df.withColumn("rowName", col("__lineno").cast("string"))
    df = df.drop("__lineno")
    if (select == "*" && where == "true") df
    else {
      val view = s"__graft_json_${java.util.UUID.randomUUID.toString
        .replace("-", "")}"
      df.createOrReplaceTempView(view)
      val sel = select.replaceAll("(?i)\\*\\s*EXCLUDING\\s*\\(", "* EXCEPT(")
      val keep = if (sel.trim == "*") "*"
        else s"rowName, $sel" // the name column rides along
      try spark.sql(s"SELECT $keep FROM $view WHERE $where")
      finally spark.catalog.dropTempView(view)
    }
  }

  /** `export.csv` (`plugins/textual/csv_export_procedure.cc:238`). */
  def exportCsv(df: DataFrame, path: String, delimiter: String = ",",
      headers: Boolean = true, mode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.spark.sql.types.StructType
    // ROW-valued columns export as their dotted leaf cells
    // (testing/MLDB-2126-export-structured.py: `select x as x` over
    // x.a/x.b writes headers x.a,x.b) — CSV has no struct encoding
    def leaves(name: String, c: Column,
        dt: org.apache.spark.sql.types.DataType): Seq[Column] = dt match {
      case st: StructType => st.fields.toSeq.flatMap(f =>
        leaves(s"$name.${f.name}", c.getField(f.name), f.dataType))
      case _ => Seq(c.as(name))
    }
    val flat = df.select(df.schema.fields.toSeq.flatMap(f =>
      leaves(f.name, df.col(s"`${f.name}`"), f.dataType)): _*)
    flat.write.mode(mode)
      .option("sep", delimiter).option("header", headers)
      .csv(path)
  }

  /** JSON export (reference writes JSON over REST; as a file sink). */
  def exportJson(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** `import.sentiwordnet`
    * (`/root/reference/plugins/nlp/sentiwordnet.cc:85-170`): parse a
    * SentiWordNet 3.0 data file — lines
    * `POS\tID\tPosScore\tNegScore\tterm#rank term#rank…\tgloss` —
    * into one row per `word#pos` with scores averaged across the
    * word's synsets weighted by 1/senseRank (the reference's
    * no-disambiguation weighting, including SentiObj = 1 - pos - neg
    * per synset BEFORE averaging). Fully distributed: text scan →
    * explode(terms) → one groupBy on the word key; the lexicon-sized
    * result is broadcastable downstream. */
  def importSentiWordNet(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    requireFile(path)
    val lines = spark.read.text(path)
      .filter(!col("value").startsWith("#") && length(trim(col("value"))) > 0)
    val f = split(col("value"), "\t")
    val parsed = lines.select(
      f.getItem(0).as("pos"),
      f.getItem(2).cast("double").as("p"),
      f.getItem(3).cast("double").as("n"),
      split(f.getItem(4), " ").as("terms"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .withColumn("o", lit(1.0) - col("p") - col("n"))
      .select(col("pos"), col("p"), col("n"), col("o"),
        explode(col("terms")).as("term"))
      .select(col("pos"), col("p"), col("n"), col("o"),
        substring_index(col("term"), "#", 1).as("baseWord"),
        substring_index(col("term"), "#", -1).cast("int").as("rank"))
      .filter(col("rank").isNotNull && col("rank") > 0)
    parsed
      .groupBy(concat(col("baseWord"), lit("#"), col("pos")).as("rowName"))
      .agg(
        (sum(col("p") / col("rank")) / sum(lit(1.0) / col("rank"))).as("SentiPos"),
        (sum(col("n") / col("rank")) / sum(lit(1.0) / col("rank"))).as("SentiNeg"),
        (sum(col("o") / col("rank")) / sum(lit(1.0) / col("rank"))).as("SentiObj"),
        first(col("pos")).as("POS"),
        first(col("baseWord")).as("baseWord"))
  }

  /** Document-level sentiment via the imported lexicon: average the
    * (SentiPos, SentiNeg, SentiObj) of every matched token, across
    * POS variants (no disambiguation — same divergence as the
    * reference importer documents). Lexicon broadcasts; only the
    * (doc, token) stream shuffles on the doc id. */
  def docSentiment(docs: DataFrame, idCol: String, textCol: String,
      lexicon: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val words = lexicon.groupBy(col("baseWord"))
      .agg(avg(col("SentiPos")).as("wp"), avg(col("SentiNeg")).as("wn"),
        avg(col("SentiObj")).as("wo"))
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.TextFunctions.tokens(col(textCol))).as("baseWord"))
      .join(org.apache.spark.sql.functions.broadcast(words), Seq("baseWord"))
      .groupBy(col("doc_id"))
      .agg(avg(col("wp")).as("SentiPos"), avg(col("wn")).as("SentiNeg"),
        avg(col("wo")).as("SentiObj"), count(lit(1)).as("n_matched"))
  }
}
