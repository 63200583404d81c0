package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Read-only SQLite importer — the read side of the reference's
  * `sqliteSparse` dataset (`plugins/sqlite/sqlite_dataset.cc`),
  * implemented directly against the published SQLite file format
  * (https://www.sqlite.org/fileformat2.html) with zero native
  * dependencies: page-1 header, table b-tree walk (interior 0x05 /
  * leaf 0x0d pages), record serial types, varints, and overflow-page
  * chains.
  *
  * - `importSqlite(path, table)`: any table as a DataFrame. SQLite is
  *   dynamically typed, so column types are inferred from the stored
  *   values (all-integer → long, numeric mix → double, any text →
  *   string, blob → binary). `INTEGER PRIMARY KEY` columns are rowid
  *   aliases (stored as NULL in the record, value = the cell's rowid)
  *   and are resolved per the format spec.
  * - `importSqliteSparse(path)`: reassembles the reference's
  *   rows/cols/vals EAV layout (`sqlite_dataset.cc:732-751`; ts is
  *   epoch millis, `:682`) into this engine's EAV cell shape
  *   `(rowName, column, value struct, ts)` via DataFrame joins.
  *
  * Scale note: one SQLite file is one node's data by construction
  * (the reference uses it as a local persistent store); parsing is
  * driver-side and the result distributes as a DataFrame. WAL files
  * are not merged — export/checkpoint the database first.
  */
object Sqlite {

  // ---------- low-level file format ----------

  private final class Db(bytes: Array[Byte]) {
    require(bytes.length >= 100 &&
      new String(bytes, 0, 16, "ISO-8859-1") == "SQLite format 3\u0000",
      "not a SQLite 3 database file")
    private val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val pageSize: Int = {
      val raw = buf.getShort(16) & 0xFFFF
      if (raw == 1) 65536 else raw
    }
    val usable: Int = pageSize - (buf.get(20) & 0xFF) // minus reserved bytes
    val encoding: Int = buf.getInt(56) // 1 = UTF-8 (the only one we accept)
    require(encoding == 1, s"unsupported SQLite text encoding $encoding")

    def pageOffset(pageNo: Int): Int = (pageNo - 1) * pageSize

    def u8(off: Int): Int = buf.get(off) & 0xFF
    def u16(off: Int): Int = buf.getShort(off) & 0xFFFF
    def u32(off: Int): Long = buf.getInt(off) & 0xFFFFFFFFL

    def varint(off: Int): (Long, Int) = {
      var v = 0L
      var i = 0
      while (i < 8) {
        val b = u8(off + i)
        v = (v << 7) | (b & 0x7F)
        if ((b & 0x80) == 0) return (v, i + 1)
        i += 1
      }
      ((v << 8) | u8(off + 8), 9)
    }

    def slice(off: Int, len: Int): Array[Byte] = {
      val a = new Array[Byte](len)
      System.arraycopy(bytes, off, a, 0, len)
      a
    }

    /** Full cell payload, following the overflow chain when spilled —
      * local-size formula per fileformat2.html §B-tree Pages. */
    def tableLeafPayload(cellOff: Int): (Array[Byte], Long) = {
      val (payloadLen, n1) = varint(cellOff)
      val (rowid, n2) = varint(cellOff + n1)
      val p = payloadLen.toInt
      val u = usable
      val x = u - 35
      if (p <= x) (slice(cellOff + n1 + n2, p), rowid)
      else {
        val m = (u - 12) * 32 / 255 - 23
        val k = m + (p - m) % (u - 4)
        val local = if (k <= x) k else m
        val out = new Array[Byte](p)
        System.arraycopy(bytes, cellOff + n1 + n2, out, 0, local)
        var next = u32(cellOff + n1 + n2 + local).toInt
        var filled = local
        while (next != 0 && filled < p) {
          val off = pageOffset(next)
          val take = math.min(u - 4, p - filled)
          System.arraycopy(bytes, off + 4, out, filled, take)
          filled += take
          next = u32(off).toInt
        }
        (out, rowid)
      }
    }

    /** Walk a table b-tree rooted at `page`, invoking `f` per row. */
    def walkTable(page: Int)(f: (Long, Array[Any]) => Unit): Unit = {
      val base = pageOffset(page)
      val hdr = if (page == 1) base + 100 else base
      u8(hdr) match {
        case 0x0D => // leaf
          val nCells = u16(hdr + 3)
          var c = 0
          while (c < nCells) {
            val cellOff = base + u16(hdr + 8 + 2 * c)
            val (payload, rowid) = tableLeafPayload(cellOff)
            f(rowid, decodeRecord(payload))
            c += 1
          }
        case 0x05 => // interior
          val nCells = u16(hdr + 3)
          var c = 0
          while (c < nCells) {
            val cellOff = base + u16(hdr + 12 + 2 * c)
            walkTable(u32(cellOff).toInt)(f)
            c += 1
          }
          walkTable(u32(hdr + 8).toInt)(f)
        case other =>
          throw new IllegalArgumentException(
            s"unexpected b-tree page type 0x$other%02x at page $page")
      }
    }

    /** Record format: header-size varint, serial-type varints, body. */
    def decodeRecord(payload: Array[Byte]): Array[Any] = {
      val local = ByteBuffer.wrap(payload).order(ByteOrder.BIG_ENDIAN)
      def lVarint(off: Int): (Long, Int) = {
        var v = 0L
        var i = 0
        while (i < 8) {
          val b = local.get(off + i) & 0xFF
          v = (v << 7) | (b & 0x7F)
          if ((b & 0x80) == 0) return (v, i + 1)
          i += 1
        }
        ((v << 8) | (local.get(off + 8) & 0xFF), 9)
      }
      val (hdrLen, n0) = lVarint(0)
      val types = ArrayBuffer.empty[Long]
      var pos = n0
      while (pos < hdrLen) {
        val (t, n) = lVarint(pos)
        types += t
        pos += n
      }
      var body = hdrLen.toInt
      types.map { t =>
        def intN(n: Int): Long = {
          var v: Long = local.get(body).toLong // sign-extend the top byte
          var i = 1
          while (i < n) { v = (v << 8) | (local.get(body + i) & 0xFFL); i += 1 }
          body += n
          v
        }
        t match {
          case 0 => null
          case 1 => Long.box(intN(1))
          case 2 => Long.box(intN(2))
          case 3 => Long.box(intN(3))
          case 4 => Long.box(intN(4))
          case 5 => Long.box(intN(6))
          case 6 => Long.box(intN(8))
          case 7 =>
            val v = java.lang.Double.longBitsToDouble(intN(8)); Double.box(v)
          case 8 => Long.box(0L)
          case 9 => Long.box(1L)
          case n if n >= 13 && n % 2 == 1 =>
            val len = ((n - 13) / 2).toInt
            val s = new String(payload, body, len, "UTF-8"); body += len; s
          case n if n >= 12 =>
            val len = ((n - 12) / 2).toInt
            val b = new Array[Byte](len)
            System.arraycopy(payload, body, b, 0, len); body += len; b
          case n =>
            throw new IllegalArgumentException(s"bad serial type $n")
        }
      }.toArray
    }
  }

  private final case class TableInfo(rootPage: Int, columns: Seq[String],
      ipkIndex: Int)

  /** sqlite_master scan → (name → root page + column names). Column
    * names come from the stored CREATE TABLE text; the parse handles
    * quoting and nested parens, not exotic DDL. */
  private def master(db: Db): Map[String, TableInfo] = {
    val out = Map.newBuilder[String, TableInfo]
    db.walkTable(1) { (_, rec) =>
      // sqlite_master: (type, name, tbl_name, rootpage, sql)
      if (rec.length >= 5 && rec(0) == "table") {
        val name = rec(1).asInstanceOf[String]
        val root = rec(3) match {
          case l: java.lang.Long => l.toInt
          case _ => 0
        }
        val sql = rec(4) match { case s: String => s; case _ => "" }
        val (cols, ipk) = parseCreate(sql)
        out += name -> TableInfo(root, cols, ipk)
      }
    }
    out.result()
  }

  /** Column names + INTEGER PRIMARY KEY position from CREATE TABLE. */
  private[graft] def parseCreate(sql: String): (Seq[String], Int) = {
    val open = sql.indexOf('(')
    val close = sql.lastIndexOf(')')
    if (open < 0 || close <= open) return (Seq.empty, -1)
    val body = sql.substring(open + 1, close)
    // split on commas at paren depth 0, outside quotes
    val defs = ArrayBuffer.empty[String]
    var depth = 0
    var quote: Char = 0
    val cur = new StringBuilder
    for (ch <- body) {
      if (quote != 0) { cur.append(ch); if (ch == quote) quote = 0 }
      else ch match {
        case '(' => depth += 1; cur.append(ch)
        case ')' => depth -= 1; cur.append(ch)
        case '\'' | '"' | '`' => quote = ch; cur.append(ch)
        case ',' if depth == 0 => defs += cur.toString; cur.clear()
        case _ => cur.append(ch)
      }
    }
    if (cur.nonEmpty) defs += cur.toString
    val constraintKw = Set("primary", "unique", "check", "foreign", "constraint")
    val cols = ArrayBuffer.empty[String]
    var ipk = -1
    for (d <- defs.map(_.trim) if d.nonEmpty) {
      // leading identifier, honoring "..." `...` [...] '...' quoting
      // (quoted names may contain spaces)
      val bare = d.head match {
        case '"' | '`' | '\'' =>
          val end = d.indexOf(d.head, 1)
          if (end > 0) d.substring(1, end) else d.drop(1)
        case '[' =>
          val end = d.indexOf(']', 1)
          if (end > 0) d.substring(1, end) else d.drop(1)
        case _ => d.split("\\s+", 2)(0)
      }
      if (!constraintKw.contains(bare.toLowerCase)) {
        val upper = d.toUpperCase
        if (upper.contains("INTEGER") && upper.contains("PRIMARY KEY"))
          ipk = cols.size
        cols += bare
      }
    }
    (cols.toSeq, ipk)
  }

  // ---------- public API ----------

  def tables(path: String): Seq[String] = {
    val db = new Db(Files.readAllBytes(Paths.get(path)))
    master(db).keys.toSeq.sorted
  }

  def importSqlite(spark: SparkSession, path: String,
      table: String): DataFrame = {
    val db = new Db(Files.readAllBytes(Paths.get(Sources.requireFile(path))))
    val info = master(db).getOrElse(table,
      throw new IllegalArgumentException(
        s"table $table not found in $path (have: ${master(db).keys.mkString(", ")})"))
    val raw = ArrayBuffer.empty[(Long, Array[Any])]
    db.walkTable(info.rootPage) { (rowid, rec) => raw += ((rowid, rec)) }
    val nCols = math.max(info.columns.size,
      raw.iterator.map(_._2.length).maxOption.getOrElse(0))
    val names = (0 until nCols).map(i =>
      if (i < info.columns.size) info.columns(i) else s"c$i")

    // dynamic typing → per-column least upper bound over stored values
    val kinds = Array.fill(nCols)(0) // 0 none, 1 long, 2 double, 3 string, 4 blob
    for ((_, rec) <- raw; i <- 0 until nCols) {
      val v = if (i < rec.length) rec(i) else null
      val k = v match {
        case null => 0
        case _: java.lang.Long => 1
        case _: java.lang.Double => 2
        case _: String => 3
        case _: Array[Byte] => 4
        case _ => 3
      }
      kinds(i) = (kinds(i), k) match {
        case (a, b) if a == b || b == 0 => a
        case (0, b) => b
        case (1, 2) | (2, 1) => 2
        case (4, _) | (_, 4) => 4
        case _ => 3
      }
    }
    val fields = names.zipWithIndex.map { case (n, i) =>
      StructField(n, kinds(i) match {
        case 2 => DoubleType
        case 3 => StringType
        case 4 => BinaryType
        case _ => LongType
      })
    }
    val rows = raw.map { case (rowid, rec) =>
      Row.fromSeq((0 until nCols).map { i =>
        val v0 = if (i < rec.length) rec(i) else null
        val v = if (i == info.ipkIndex && v0 == null) Long.box(rowid) else v0
        (v, kinds(i)) match {
          case (null, _) => null
          case (x: java.lang.Long, 2) => Double.box(x.toDouble)
          case (x: java.lang.Long, 3) => x.toString
          case (x: java.lang.Double, 3) => x.toString
          // a column whose LUB is BLOB may still hold non-blob values
          // (SQLite's dynamic typing) — encode them, or the BinaryType
          // row fails on 'String is not a valid external type'
          case (x: Array[Byte], 4) => x
          case (x, 4) => String.valueOf(x)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          case (x, _) => x
        }
      })
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, math.max(1, rows.size / 50000)),
      StructType(fields))
  }

  /** The reference's sqliteSparse EAV layout reassembled to this
    * engine's cell shape. All values are TEXT in the store
    * (`sqlite_dataset.cc:736`), so the value lands in the `str` slot
    * with a numeric echo when it parses as a number. */
  def importSqliteSparse(spark: SparkSession, path: String): DataFrame = {
    val vals = importSqlite(spark, path, "vals")
    val rows = importSqlite(spark, path, "rows")
    val cols = importSqlite(spark, path, "cols")
    vals
      .join(rows.select(col("rowNum"), col("rowName")), Seq("rowNum"))
      .join(cols.select(col("colNum"), col("colName")), Seq("colNum"))
      .withColumn("__s", col("val").cast("string"))
      // try_cast, not cast: non-numeric text must yield a null numeric
      // echo under ANSI mode rather than abort the job
      .withColumn("__n", expr("try_cast(__s AS double)"))
      .select(
        col("rowName").cast("string").as("rowName"),
        col("colName").cast("string").as("column"),
        struct(
          col("__n").as("num"),
          col("__s").as("str"),
          lit(null).cast("timestamp").as("tsv"),
          lit(null).cast("boolean").as("flag")).as("value"),
        timestamp_millis(col("ts").cast("long")).as("ts"))
  }

  // ---------- writer (the persistence side of sqliteSparse) ----------

  /** Minimal SQLite 3 file writer for the reference's sqliteSparse
    * rows/cols/vals EAV layout (`plugins/sqlite/sqlite_dataset.cc:682,
    * 732-751`): page-1 header + sqlite_master, one table b-tree per
    * table (leaf pages, one interior page when rows span several
    * leaves), record serial types per the published format
    * (https://www.sqlite.org/fileformat2.html). Differentially tested
    * against this file's own reader — which was itself validated on
    * genuine libsqlite-produced fixtures — so the bytes round-trip.
    *
    * Driver-side by design: a SQLite file is one node's data (the
    * reference uses it as a local persistent store). Values must fit
    * in-page (payload ≤ ~4000 bytes/cell) — cell text in this layout
    * is row/column names and atom values.
    */
  def writeSparse(df: DataFrame, path: String): Unit = {
    import scala.collection.mutable
    val pageSize = 4096

    // wide row frame → EAV triples (rowName, colName, value, tsMillis)
    val rnIdx = df.schema.fieldNames.indexWhere(_.equalsIgnoreCase("rowName"))
    require(rnIdx >= 0, "writeSparse input needs a rowName column")
    val tsIdx = df.schema.fieldNames.indexWhere(_.equalsIgnoreCase("ts"))
    val dataCols = df.schema.fields.zipWithIndex.filter { case (f, i) =>
      i != rnIdx && i != tsIdx && !f.name.startsWith("__")
    }
    val rowNames = mutable.LinkedHashMap.empty[String, Long]
    val colNames = mutable.LinkedHashMap.empty[String, Long]
    val cells = mutable.ArrayBuffer.empty[(Long, Long, Any, Long)]
    df.toLocalIterator().forEachRemaining { r =>
      val rn = String.valueOf(r.get(rnIdx))
      val rid = rowNames.getOrElseUpdate(rn, rowNames.size + 1L)
      val ts: Long =
        if (tsIdx < 0 || r.isNullAt(tsIdx)) 0L
        else r.get(tsIdx) match {
          case t: java.sql.Timestamp => t.getTime
          case t: java.time.Instant => t.toEpochMilli
          case t: java.time.LocalDateTime =>
            t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          case n: java.lang.Number => n.longValue()
          case _ => 0L
        }
      dataCols.foreach { case (f, i) =>
        if (!r.isNullAt(i)) {
          val cid = colNames.getOrElseUpdate(f.name, colNames.size + 1L)
          cells += ((rid, cid, r.get(i), ts))
        }
      }
    }

    def varint(v: Long): Array[Byte] = {
      if (v >= 0 && v < 128) Array(v.toByte)
      else {
        val groups = mutable.ArrayBuffer.empty[Byte]
        var x = v
        // up to 8 7-bit groups + final 8-bit; negative → full 9 bytes
        if (v < 0) {
          val out = new Array[Byte](9)
          out(8) = (x & 0xFF).toByte; x >>= 8
          var i = 7
          while (i >= 0) { out(i) = ((x & 0x7F) | 0x80).toByte; x >>= 7; i -= 1 }
          out
        } else {
          while (x > 0) { groups.prepend((x & 0x7F).toByte); x >>= 7 }
          val out = groups.toArray
          (0 until out.length - 1).foreach(i =>
            out(i) = (out(i) | 0x80).toByte)
          out
        }
      }
    }

    /** (serialType, body bytes) of one dynamically-typed value. */
    def serial(v: Any): (Long, Array[Byte]) = v match {
      case null => (0L, Array.empty[Byte])
      case b: java.lang.Boolean => serial(if (b) 1L else 0L)
      case n: java.lang.Byte => serial(n.longValue())
      case n: java.lang.Short => serial(n.longValue())
      case n: java.lang.Integer => serial(n.longValue())
      case n: java.lang.Long =>
        val x = n.longValue()
        if (x >= Byte.MinValue && x <= Byte.MaxValue)
          (1L, Array(x.toByte))
        else if (x >= Short.MinValue && x <= Short.MaxValue)
          (2L, Array((x >> 8).toByte, x.toByte))
        else if (x >= -8388608L && x <= 8388607L)
          (3L, Array((x >> 16).toByte, (x >> 8).toByte, x.toByte))
        else if (x >= Int.MinValue && x <= Int.MaxValue)
          (4L, Array((x >> 24).toByte, (x >> 16).toByte, (x >> 8).toByte,
            x.toByte))
        else
          (6L, (0 until 8).map(i => ((x >> (56 - 8 * i)) & 0xFF).toByte)
            .toArray)
      case d: java.lang.Float => serial(java.lang.Double.valueOf(d.toDouble))
      case d: java.lang.Double =>
        val bits = java.lang.Double.doubleToLongBits(d)
        (7L, (0 until 8).map(i => ((bits >> (56 - 8 * i)) & 0xFF).toByte)
          .toArray)
      case d: java.math.BigDecimal => serial(
        java.lang.Double.valueOf(d.doubleValue()))
      case d: BigDecimal => serial(java.lang.Double.valueOf(d.toDouble))
      case b: Array[Byte] => (12L + 2L * b.length, b)
      case s: String =>
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        (13L + 2L * b.length, b)
      case other => serial(String.valueOf(other))
    }

    /** One table record (row of values) per the record format. */
    def record(values: Seq[Any]): Array[Byte] = {
      val parts = values.map(serial)
      val typeBytes = parts.flatMap(p => varint(p._1))
      // header size includes its own varint; sizes here are < 128
      val hdr = varint(typeBytes.size + 1L)
      require(hdr.length == 1, "record header too large for writer")
      hdr ++ typeBytes ++ parts.flatMap(p => p._2)
    }

    /** Pack (rowid, record) cells into leaf pages; returns the pages'
      * bytes and each page's max rowid. */
    def leafPages(rowsIn: Seq[(Long, Array[Byte])]):
        Seq[(Array[Byte], Long)] = {
      // index positionally below — a List input would make rows(i) /
      // rows.length O(i)/O(n) each and the packing loop quadratic (a
      // multi-M-cell sparse commit burned minutes here)
      val rows: IndexedSeq[(Long, Array[Byte])] = rowsIn match {
        case ix: IndexedSeq[(Long, Array[Byte])] @unchecked => ix
        case other => other.toIndexedSeq
      }
      val pages = mutable.ArrayBuffer.empty[(Array[Byte], Long)]
      var i = 0
      while (i < rows.length || pages.isEmpty) {
        val cells = mutable.ArrayBuffer.empty[Array[Byte]]
        var used = 8 // page header
        var maxRowid = 0L
        var fits = true
        while (i < rows.length && fits) {
          val (rowid, rec) = rows(i)
          require(rec.length <= pageSize - 35,
            s"writeSparse cell too large (${rec.length} bytes)")
          val cell = varint(rec.length.toLong) ++ varint(rowid) ++ rec
          if (used + 2 + cell.length <= pageSize) {
            cells += cell; used += 2 + cell.length; maxRowid = rowid; i += 1
          } else fits = false
        }
        val page = new Array[Byte](pageSize)
        val bb = ByteBuffer.wrap(page).order(ByteOrder.BIG_ENDIAN)
        page(0) = 13 // table leaf
        bb.putShort(3, cells.size.toShort)
        var off = pageSize
        val ptrs = cells.map { c => off -= c.length; System.arraycopy(
          c, 0, page, off, c.length); off }
        bb.putShort(5, off.toShort)
        ptrs.zipWithIndex.foreach { case (p, j) =>
          bb.putShort(8 + 2 * j, p.toShort) }
        pages += ((page, maxRowid))
        if (rows.isEmpty) i = 1 // emitted the one empty page
      }
      pages.toSeq
    }

    /** One interior page over a bounded child group (4-byte child +
      * ≤9-byte varint key per cell + 2-byte pointer; callers chunk to
      * `maxInteriorKids` so cells can never collide with the pointer
      * array). */
    def interiorPage(children: Seq[(Int, Long)], rightmost: Int):
        Array[Byte] = {
      val page = new Array[Byte](pageSize)
      val bb = ByteBuffer.wrap(page).order(ByteOrder.BIG_ENDIAN)
      page(0) = 5 // table interior
      bb.putShort(3, children.size.toShort)
      bb.putInt(8, rightmost)
      var off = pageSize
      val ptrs = children.map { case (child, key) =>
        val cell = ByteBuffer.allocate(4).putInt(child).array() ++ varint(key)
        off -= cell.length
        System.arraycopy(cell, 0, page, off, cell.length)
        off
      }
      require(off >= 12 + 2 * children.size,
        s"interior page overflow (${children.size} children)")
      bb.putShort(5, off.toShort)
      ptrs.zipWithIndex.foreach { case (p, j) =>
        bb.putShort(12 + 2 * j, p.toShort) }
      page
    }

    // worst-case interior cell: 2-byte pointer + 4-byte child +
    // 9-byte varint key
    val maxInteriorKids = (pageSize - 12) / 15

    // build the three tables' pages; page numbers assigned sequentially
    // after page 1 (sqlite_master)
    final case class Table(name: String, sql: String,
        rows: Seq[(Long, Array[Byte])])
    val tables = Seq(
      Table("rows", "CREATE TABLE rows (rowNum INTEGER, rowName TEXT)",
        rowNames.toSeq.map { case (n, id) =>
          id -> record(Seq(java.lang.Long.valueOf(id), n)) }),
      Table("cols", "CREATE TABLE cols (colNum INTEGER, colName TEXT)",
        colNames.toSeq.map { case (n, id) =>
          id -> record(Seq(java.lang.Long.valueOf(id), n)) }),
      Table("vals",
        "CREATE TABLE vals (rowNum INTEGER, colNum INTEGER, val, ts INTEGER)",
        cells.toSeq.zipWithIndex.map { case ((rid, cid, v, ts), j) =>
          (j + 1L) -> record(Seq(java.lang.Long.valueOf(rid),
            java.lang.Long.valueOf(cid), v, java.lang.Long.valueOf(ts))) }))

    val filePages = mutable.ArrayBuffer.empty[Array[Byte]]
    filePages += new Array[Byte](pageSize) // page 1 placeholder
    val rootOf = tables.map { t =>
      val leaves = leafPages(t.rows)
      val leafNums = leaves.map { case (pg, _) =>
        filePages += pg; filePages.size }
      // interior LEVELS until one root remains — a single interior
      // page caps out around 270 leaves (~35k cells), so big sparse
      // commits need a real multi-level b-tree, not a require().
      // Groups are BALANCED (sizes differ by ≤1): a naive
      // grouped(maxKids) can leave a singleton remainder, and a
      // 1-child group writes a zero-cell interior page — which real
      // sqlite3 readers reject as corruption
      var level: Seq[(Int, Long)] = leafNums.zip(leaves.map(_._2))
      while (level.size > 1) {
        val size = level.size
        val numGroups = (size + maxInteriorKids - 1) / maxInteriorKids
        val base = size / numGroups
        val extra = size % numGroups // the first `extra` groups get +1
        val groups = Iterator.unfold((level, 0)) {
          case (rest, gi) if rest.nonEmpty =>
            val take = base + (if (gi < extra) 1 else 0)
            val (g, tail) = rest.splitAt(take)
            Some((g, (tail, gi + 1)))
          case _ => None
        }.toSeq
        level = groups.map { g =>
          filePages += interiorPage(g.init, g.last._1)
          (filePages.size, g.last._2)
        }
      }
      val root = level.head._1
      t.name -> root
    }.toMap

    // page 1: header + sqlite_master leaf
    val master = filePages(0)
    val mbb = ByteBuffer.wrap(master).order(ByteOrder.BIG_ENDIAN)
    val magic = "SQLite format 3".getBytes("ASCII") :+ 0.toByte
    System.arraycopy(magic, 0, master, 0, 16)
    mbb.putShort(16, pageSize.toShort)
    master(18) = 1; master(19) = 1 // write/read format
    master(21) = 64; master(22) = 32; master(23) = 32
    mbb.putInt(24, 1) // change counter
    mbb.putInt(28, filePages.size) // page count
    mbb.putInt(40, 1) // schema cookie
    mbb.putInt(44, 1) // schema format
    mbb.putInt(56, 1) // text encoding UTF-8
    mbb.putInt(92, 1) // version-valid-for
    mbb.putInt(96, 3045001) // library version stamp
    // master b-tree leaf: rows (type, name, tbl_name, rootpage, sql)
    val masterRows = tables.zipWithIndex.map { case (t, j) =>
      (j + 1L) -> record(Seq("table", t.name, t.name,
        java.lang.Long.valueOf(rootOf(t.name).toLong), t.sql))
    }
    master(100) = 13
    mbb.putShort(103, masterRows.size.toShort)
    var moff = pageSize
    val mptrs = masterRows.map { case (rowid, rec) =>
      val cell = varint(rec.length.toLong) ++ varint(rowid) ++ rec
      moff -= cell.length
      System.arraycopy(cell, 0, master, moff, cell.length)
      moff
    }
    mbb.putShort(105, moff.toShort)
    mptrs.zipWithIndex.foreach { case (p, j) =>
      mbb.putShort(108 + 2 * j, p.toShort) }

    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path))
    try filePages.foreach(out.write) finally out.close()
  }
}
