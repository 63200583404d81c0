package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** PostgreSQL import without a driver: a pure-JVM implementation of
  * the v3 wire protocol (startup → auth → simple query → text-format
  * DataRows), the same no-native-dependency approach as
  * [[Sqlite]]'s b-tree parser. Covers the reference's
  * `postgresql.import` / `postgresql.query` surface
  * (`plugins/postgresql/postgresql_plugin.cc:820-843` — there: libpq
  * behind a plugin; here: ~200 lines of protocol, because the
  * environment ships no client library).
  *
  * Scale shape: `importTable` with a `partitionColumn` opens ONE
  * connection PER SPARK TASK, each shipping a disjoint
  * `mod(col, n) = i` predicate — the standard JDBC-partitioned-read
  * layout, so a large table streams through the executors in
  * parallel and never materializes on the driver. Schema discovery
  * costs one driver-side `LIMIT 0` round-trip. Everything else is
  * lazy: rows parse straight into Spark `Row`s inside
  * `mapPartitions`.
  *
  * Supported auth: trust, cleartext password, md5 (the
  * `md5(md5(password ∥ user) ∥ salt)` double hash), and SCRAM-SHA-256
  * (RFC 5802/7677 — the postgres default since v10 — via the SASL
  * exchange, including verification of the server signature).
  *
  * TLS: `ssl = true` sends the protocol's SSLRequest (code 80877103)
  * before the startup message and, on the server's 'S' answer,
  * upgrades the socket through the JDK's SSLSocketFactory — the same
  * STARTTLS-style dance libpq performs for the reference. A server
  * answering 'N' fails loudly (require semantics — no silent
  * plaintext fallback). `sslVerify = false` accepts self-signed
  * certificates (test/dev); the default verifies against the JVM
  * trust store. Channel binding: over TLS the client selects
  * SCRAM-SHA-256-PLUS with RFC 5929 tls-server-end-point binding
  * whenever the server advertises it (gs2 `p=`), and otherwise flags
  * binding support (`y`) so a stripped PLUS advertisement is
  * detectable — libpq's channel_binding=prefer posture.
  */
object Postgres {

  final case class PgConfig(
      host: String,
      port: Int = 5432,
      database: String = "postgres",
      user: String = "postgres",
      password: String = "",
      ssl: Boolean = false,
      sslVerify: Boolean = true)

  /** OID → Spark type for the text-format columns we decode; anything
    * unknown imports as string (lossless — text protocol). */
  private val oidTypes: Map[Int, DataType] = Map(
    16 -> BooleanType, 17 -> BinaryType, 20 -> LongType, 21 -> ShortType,
    23 -> IntegerType, 25 -> StringType, 700 -> FloatType,
    701 -> DoubleType, 1042 -> StringType, 1043 -> StringType,
    1082 -> DateType, 1114 -> TimestampType, 1184 -> TimestampType,
    1700 -> DecimalType(38, 18))

  // ---- protocol ----------------------------------------------------------

  private final class Conn(cfg: PgConfig) extends AutoCloseable {
    private val sock: Socket = {
      val plain = new Socket(cfg.host, cfg.port)
      plain.setTcpNoDelay(true)
      if (!cfg.ssl) plain
      else {
        // SSLRequest: length 8, magic 80877103; 'S' = proceed with TLS
        val pout = new DataOutputStream(plain.getOutputStream)
        pout.writeInt(8)
        pout.writeInt(80877103)
        pout.flush()
        plain.getInputStream.read() match {
          case 'S' => ()
          case 'N' => throw new IllegalStateException(
            s"postgres at ${cfg.host}:${cfg.port} refused TLS (ssl=true " +
              "has require semantics — no plaintext fallback)")
          case other => throw new IllegalStateException(
            s"unexpected SSLRequest answer byte $other")
        }
        val ctx =
          if (cfg.sslVerify) javax.net.ssl.SSLContext.getDefault
          else {
            val c = javax.net.ssl.SSLContext.getInstance("TLS")
            c.init(null, Array[javax.net.ssl.TrustManager](
              new javax.net.ssl.X509TrustManager {
                def getAcceptedIssuers = new Array[java.security.cert.X509Certificate](0)
                def checkClientTrusted(
                    c2: Array[java.security.cert.X509Certificate], a: String): Unit = ()
                def checkServerTrusted(
                    c2: Array[java.security.cert.X509Certificate], a: String): Unit = ()
              }), new java.security.SecureRandom)
            c
          }
        val ssl = ctx.getSocketFactory
          .createSocket(plain, cfg.host, cfg.port, true)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        ssl.setUseClientMode(true)
        if (cfg.sslVerify) {
          // chain validation alone accepts ANY CA-signed cert — raw
          // SSLSockets do no endpoint identification unless asked, so
          // verify-mode must also pin the hostname (libpq's
          // sslmode=verify-full contract)
          val sp = ssl.getSSLParameters
          sp.setEndpointIdentificationAlgorithm("HTTPS")
          ssl.setSSLParameters(sp)
        }
        ssl.startHandshake()
        ssl
      }
    }
    private val in = new DataInputStream(sock.getInputStream)
    private val out = new DataOutputStream(sock.getOutputStream)

    // StartupMessage: no type byte; len + protocol 3.0 + params
    locally {
      val params = Array("user", cfg.user, "database", cfg.database)
        .flatMap(v => v.getBytes(StandardCharsets.UTF_8) :+ 0.toByte) :+
        0.toByte
      out.writeInt(8 + params.length)
      out.writeInt(196608)
      out.write(params)
      out.flush()
      authenticate()
    }

    private def password(bytes: Array[Byte]): Unit = {
      out.writeByte('p')
      out.writeInt(4 + bytes.length + 1)
      out.write(bytes)
      out.writeByte(0)
      out.flush()
    }

    private def md5Hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"$x%02x").mkString

    // ---- SCRAM-SHA-256 (RFC 5802/7677, the postgres default since 10) --
    private def hmac(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val m = javax.crypto.Mac.getInstance("HmacSHA256")
      m.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
      m.doFinal(data)
    }
    private def sha256(b: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
    /** Hi() = PBKDF2-HMAC-SHA256 (identical iteration structure). */
    private def hi(password: String, salt: Array[Byte],
        iters: Int): Array[Byte] =
      javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
        .generateSecret(new javax.crypto.spec.PBEKeySpec(
          password.toCharArray, salt, iters, 256)).getEncoded
    private def b64(b: Array[Byte]): String =
      java.util.Base64.getEncoder.encodeToString(b)
    private def unb64(s: String): Array[Byte] =
      java.util.Base64.getDecoder.decode(s)
    private def utf8(s: String): Array[Byte] =
      s.getBytes(StandardCharsets.UTF_8)
    // client-side SASL state across the R-message exchange
    private var scramClientFirstBare: String = null
    private var scramSaltedPassword: Array[Byte] = null
    private var scramAuthMessage: String = null
    private var scramCbInput: Array[Byte] = null // gs2 header ++ cb data

    /** RFC 5929 tls-server-end-point: hash of the server certificate
      * using the cert's own signature hash (anything below SHA-256
      * upgrades to SHA-256). */
    private def tlsServerEndPoint(ssl: javax.net.ssl.SSLSocket): Array[Byte] = {
      val cert = ssl.getSession.getPeerCertificates.head
        .asInstanceOf[java.security.cert.X509Certificate]
      val sig = cert.getSigAlgName.toUpperCase
      val alg =
        if (sig.contains("SHA384")) "SHA-384"
        else if (sig.contains("SHA512")) "SHA-512"
        else "SHA-256"
      java.security.MessageDigest.getInstance(alg).digest(cert.getEncoded)
    }

    private def scramAttrs(msg: String): Map[Char, String] =
      msg.split(",").filter(_.length >= 2).map(p => p.charAt(0) -> p.drop(2))
        .toMap

    private def scramStart(body: Array[Byte]): Unit = {
      // AuthenticationSASL: NUL-separated mechanism list after the code
      val mechs = new String(body.drop(4), StandardCharsets.UTF_8)
        .split("\u0000").filter(_.nonEmpty)
      // channel binding (RFC 7677 / RFC 5929 gs2 flags): over TLS
      // prefer SCRAM-SHA-256-PLUS with tls-server-end-point binding
      // when the server offers it; otherwise claim support with the
      // `y` flag so a MITM stripping the PLUS advertisement is
      // detected by the server. Plaintext uses `n` (no binding).
      val (mechName, gs2, cbData) = sock match {
        case ssl: javax.net.ssl.SSLSocket
            if mechs.contains("SCRAM-SHA-256-PLUS") =>
          ("SCRAM-SHA-256-PLUS", "p=tls-server-end-point,,",
            tlsServerEndPoint(ssl))
        case _: javax.net.ssl.SSLSocket if mechs.contains("SCRAM-SHA-256") =>
          ("SCRAM-SHA-256", "y,,", Array.empty[Byte])
        case _ if mechs.contains("SCRAM-SHA-256") =>
          ("SCRAM-SHA-256", "n,,", Array.empty[Byte])
        case _ => throw new IllegalArgumentException(
          s"server offers [${mechs.mkString(", ")}]; " +
            "only SCRAM-SHA-256[-PLUS] is supported")
      }
      scramCbInput = utf8(gs2) ++ cbData
      val nonce = {
        val raw = new Array[Byte](18)
        new java.security.SecureRandom().nextBytes(raw)
        b64(raw)
      }
      // n= is ignored by postgres (the startup user wins)
      scramClientFirstBare = s"n=,r=$nonce"
      val initial = utf8(gs2 + scramClientFirstBare)
      val mech = utf8(mechName)
      out.writeByte('p')
      out.writeInt(4 + mech.length + 1 + 4 + initial.length)
      out.write(mech); out.writeByte(0)
      out.writeInt(initial.length); out.write(initial)
      out.flush()
    }

    private def scramContinue(body: Array[Byte]): Unit = {
      val serverFirst = new String(body.drop(4), StandardCharsets.UTF_8)
      val attrs = scramAttrs(serverFirst)
      val serverNonce = attrs.getOrElse('r', throw new IllegalArgumentException(
        s"SCRAM server-first missing nonce: $serverFirst"))
      val salt = unb64(attrs('s'))
      val iters = attrs('i').toInt
      scramSaltedPassword = hi(cfg.password, salt, iters)
      val clientKey = hmac(scramSaltedPassword, utf8("Client Key"))
      val storedKey = sha256(clientKey)
      // c= carries the gs2 header + channel-binding data (the cert
      // hash under -PLUS; bare header otherwise — "biws"/"eSws")
      val withoutProof = s"c=${b64(scramCbInput)},r=$serverNonce"
      scramAuthMessage =
        s"$scramClientFirstBare,$serverFirst,$withoutProof"
      val clientSig = hmac(storedKey, utf8(scramAuthMessage))
      val proof = clientKey.zip(clientSig).map(t => (t._1 ^ t._2).toByte)
      password(utf8(s"$withoutProof,p=${b64(proof)}"))
    }

    private def scramFinish(body: Array[Byte]): Unit = {
      // verify the server proves knowledge of ServerKey (anti-spoofing)
      val serverFinal = new String(body.drop(4), StandardCharsets.UTF_8)
      val v = scramAttrs(serverFinal).getOrElse('v',
        throw new IllegalArgumentException(
          s"SCRAM server-final missing signature: $serverFinal"))
      val serverKey = hmac(scramSaltedPassword, utf8("Server Key"))
      val expected = b64(hmac(serverKey, utf8(scramAuthMessage)))
      if (v != expected) throw new IllegalArgumentException(
        "SCRAM server signature mismatch - server does not know the " +
          "password (possible impersonation)")
    }

    private def authenticate(): Unit = {
      var ready = false
      while (!ready) {
        val (tpe, body) = readMessage()
        tpe match {
          case 'R' =>
            val code = readInt(body, 0)
            code match {
              case 0 => // AuthenticationOk
              case 3 => password(cfg.password.getBytes(StandardCharsets.UTF_8))
              case 5 => // md5: md5(md5(password+user)+salt), "md5" prefix
                val salt = body.slice(4, 8)
                val inner = md5Hex((cfg.password + cfg.user)
                  .getBytes(StandardCharsets.UTF_8))
                val outer = md5Hex(
                  inner.getBytes(StandardCharsets.UTF_8) ++ salt)
                password(("md5" + outer).getBytes(StandardCharsets.UTF_8))
              case 10 => scramStart(body)    // AuthenticationSASL
              case 11 => scramContinue(body) // AuthenticationSASLContinue
              case 12 => scramFinish(body)   // AuthenticationSASLFinal
              case other => throw new IllegalArgumentException(
                s"unsupported postgres auth method $other")
            }
          case 'S' | 'K' | 'N' => // ParameterStatus / BackendKeyData / Notice
          case 'Z' => ready = true
          case 'E' => throw new IllegalArgumentException(errorText(body))
          case other => throw new IllegalArgumentException(
            s"unexpected message '${other.toChar}' during startup")
        }
      }
    }

    private def readMessage(): (Char, Array[Byte]) = {
      val tpe = in.readByte().toChar
      val len = in.readInt() - 4
      val body = new Array[Byte](len)
      in.readFully(body)
      (tpe, body)
    }

    private def readInt(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
        ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

    private def readShort(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

    private def cstring(b: Array[Byte], off: Int): (String, Int) = {
      var end = off
      while (b(end) != 0) end += 1
      (new String(b, off, end - off, StandardCharsets.UTF_8), end + 1)
    }

    private def errorText(body: Array[Byte]): String = {
      // ErrorResponse: (code byte + cstring)* then \0
      val sb = new StringBuilder("postgres error:")
      var off = 0
      while (off < body.length && body(off) != 0) {
        val code = body(off).toChar
        val (s, next) = cstring(body, off + 1)
        if (code == 'S' || code == 'M' || code == 'C') sb.append(s" $code=$s")
        off = next
      }
      sb.toString
    }

    /** Simple query: returns (field name+oid list, text rows). */
    def query(sql: String): (Seq[(String, Int)], Iterator[Array[String]]) = {
      val q = sql.getBytes(StandardCharsets.UTF_8)
      out.writeByte('Q')
      out.writeInt(4 + q.length + 1)
      out.write(q)
      out.writeByte(0)
      out.flush()
      var fields: Seq[(String, Int)] = Nil
      val rows = scala.collection.mutable.ArrayBuffer[Array[String]]()
      var done = false
      while (!done) {
        val (tpe, body) = readMessage()
        tpe match {
          case 'T' =>
            val n = readShort(body, 0)
            var off = 2
            fields = (0 until n).map { _ =>
              val (name, afterName) = cstring(body, off)
              val typeOid = readInt(body, afterName + 6)
              off = afterName + 18
              (name, typeOid)
            }
          case 'D' =>
            val n = readShort(body, 0)
            var off = 2
            val row = new Array[String](n)
            var i = 0
            while (i < n) {
              val len = readInt(body, off); off += 4
              if (len >= 0) {
                row(i) = new String(body, off, len, StandardCharsets.UTF_8)
                off += len
              }
              i += 1
            }
            rows += row
          case 'C' | 'I' => // CommandComplete / EmptyQueryResponse
          case 'Z' => done = true
          case 'N' | 'S' => // notices / parameter changes mid-session
          case 'E' =>
            // drain to ReadyForQuery, then surface
            val msg = errorText(body)
            var z = false
            while (!z) { if (readMessage()._1 == 'Z') z = true }
            throw new IllegalArgumentException(msg)
          case other => throw new IllegalArgumentException(
            s"unexpected message '${other.toChar}' in query response")
        }
      }
      (fields, rows.iterator)
    }

    def close(): Unit = {
      // Terminate is a courtesy: a server that already closed the
      // connection has nothing left to tell
      try { out.writeByte('X'); out.writeInt(4); out.flush() }
      catch { case scala.util.control.NonFatal(_) => () }
      sock.close()
    }
  }

  // ---- value decoding ----------------------------------------------------

  private def decode(text: String, dt: DataType): Any =
    if (text == null) null
    else dt match {
      case BooleanType => text == "t" || text == "true"
      case ShortType => text.toShort
      case IntegerType => text.toInt
      case LongType => text.toLong
      case FloatType => text.toFloat
      case DoubleType => text.toDouble
      case _: DecimalType => new java.math.BigDecimal(text)
      case DateType => java.sql.Date.valueOf(text)
      case TimestampType =>
        // "yyyy-MM-dd HH:mm:ss[.ffffff][±HH[:MM]]" — normalize the
        // optional zone (timestamptz) to an instant; zoneless parses
        // as a local (session-UTC) timestamp
        val m = "([+-]\\d{2}(?::?\\d{2})?)$".r.findFirstIn(text)
        m match {
          case Some(z) =>
            val base = text.dropRight(z.length).replace(' ', 'T')
            val zone = if (z.length == 3) z + ":00" else z
            java.sql.Timestamp.from(
              java.time.OffsetDateTime.parse(base + zone).toInstant)
          case None => java.sql.Timestamp.valueOf(text)
        }
      case BinaryType =>
        // bytea hex format: \x0102…
        val hex = text.stripPrefix("\\x")
        hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      case _ => text
    }

  private def schemaOf(fields: Seq[(String, Int)]): StructType =
    StructType(fields.map { case (name, oid) =>
      StructField(name, oidTypes.getOrElse(oid, StringType))
    })

  // ---- public API --------------------------------------------------------

  /** `postgresql.query`-style single-connection import of an
    * arbitrary SQL query (driver-side fetch, for config-sized
    * results; use [[importTable]] for data-sized reads). */
  def importQuery(spark: SparkSession, cfg: PgConfig, sql: String): DataFrame = {
    val conn = new Conn(cfg)
    try {
      val (fields, rows) = conn.query(sql)
      val schema = schemaOf(fields)
      val data = rows.map(r => Row.fromSeq(
        r.toIndexedSeq.zip(schema.fields.toIndexedSeq).map { case (v, f) =>
          decode(v, f.dataType)
        })).toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(data, math.max(1, data.length / 10000)),
        schema)
    } finally conn.close()
  }

  /** `postgresql.import`: read a table (or subquery) distributed —
    * with `partitionColumn` (an integral column), each Spark task
    * opens its own connection and streams a disjoint
    * `mod(col, n) = i` slice, so the fetch parallelizes across the
    * cluster and no row ever passes through the driver. */
  def importTable(spark: SparkSession, cfg: PgConfig, table: String,
      partitionColumn: Option[String] = None,
      numPartitions: Int = 1): DataFrame = {
    require(numPartitions >= 1, "numPartitions must be >= 1")
    // one LIMIT 0 round-trip for the schema (text protocol: types come
    // from RowDescription, no rows move)
    val probe = new Conn(cfg)
    val schema = try schemaOf(
      probe.query(s"SELECT * FROM $table LIMIT 0")._1) finally probe.close()
    partitionColumn match {
      case None =>
        importQueryWithSchema(spark, cfg, s"SELECT * FROM $table", schema, 1)
      case Some(col) =>
        val rdd = spark.sparkContext
          .parallelize(0 until numPartitions, numPartitions)
          .mapPartitions { it =>
            it.flatMap { i =>
              val c = new Conn(cfg)
              try {
                val (fields, rows) = c.query(
                  s"SELECT * FROM $table WHERE (($col % $numPartitions) + " +
                    s"$numPartitions) % $numPartitions = $i")
                val types = schemaOf(fields).fields.map(_.dataType)
                rows.map(r => Row.fromSeq(r.toIndexedSeq.zip(types.toIndexedSeq)
                  .map { case (v, t) => decode(v, t) })).toVector
              } finally c.close()
            }
          }
        spark.createDataFrame(rdd, schema)
    }
  }

  /** `postgresql.recorder`: write a DataFrame into a table, one
    * connection PER PARTITION, multi-row INSERT batches of
    * `batchRows` (the libpq-recorder shape of
    * `postgresql_plugin.cc`'s recorder dataset, distributed). Values
    * ship as SQL literals over the simple-query protocol —
    * strings/timestamps escaped, binary as bytea hex, null as NULL.
    * `createTable` issues a best-effort CREATE TABLE from the
    * DataFrame schema first. */
  def exportTable(df: org.apache.spark.sql.DataFrame, cfg: PgConfig,
      table: String, createTable: Boolean = false,
      batchRows: Int = 500): Unit = {
    val schema = df.schema
    if (createTable) {
      val cols = schema.fields.map { f =>
        val t = f.dataType match {
          case org.apache.spark.sql.types.BooleanType => "boolean"
          case org.apache.spark.sql.types.ShortType => "int2"
          case org.apache.spark.sql.types.IntegerType => "int4"
          case org.apache.spark.sql.types.LongType => "int8"
          case org.apache.spark.sql.types.FloatType => "float4"
          case org.apache.spark.sql.types.DoubleType => "float8"
          case _: org.apache.spark.sql.types.DecimalType => "numeric"
          case org.apache.spark.sql.types.DateType => "date"
          case org.apache.spark.sql.types.TimestampType => "timestamptz"
          case org.apache.spark.sql.types.BinaryType => "bytea"
          case _ => "text"
        }
        s""""${f.name}" $t"""
      }.mkString(", ")
      val c = new Conn(cfg)
      try c.query(s"CREATE TABLE IF NOT EXISTS $table ($cols)")
      finally c.close()
    }
    val colList = schema.fields.map(f => s""""${f.name}"""").mkString(", ")
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val c = new Conn(cfg)
        try rows.grouped(batchRows).foreach { batch =>
          val values = batch.map { r =>
            schema.fields.indices.map { i =>
              sqlLiteral(r.get(i), schema.fields(i).dataType)
            }.mkString("(", ", ", ")")
          }.mkString(", ")
          c.query(s"INSERT INTO $table ($colList) VALUES $values")
        } finally c.close()
      }
    }
  }

  private def sqlLiteral(v: Any,
      dt: org.apache.spark.sql.types.DataType): String =
    if (v == null) "NULL"
    else dt match {
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType =>
        // postgres accepts special float values only as quoted
        // literals ('NaN' / 'Infinity' / '-Infinity'); bare tokens are
        // parsed as identifiers and error the whole INSERT
        val s = v.toString
        if (s == "NaN" || s == "Infinity" || s == "-Infinity") s"'$s'"
        else s
      case org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.DecimalType => v.toString
      case org.apache.spark.sql.types.BinaryType =>
        "'\\x" + v.asInstanceOf[Array[Byte]]
          .map(b => f"$b%02x").mkString + "'"
      case _ => // strings, dates, timestamps: escaped single-quoted text
        "'" + v.toString.replace("'", "''") + "'"
    }

  private def importQueryWithSchema(spark: SparkSession, cfg: PgConfig,
      sql: String, schema: StructType, parts: Int): DataFrame = {
    val rdd = spark.sparkContext.parallelize(Seq(sql), parts).mapPartitions {
      it =>
        it.flatMap { q =>
          val c = new Conn(cfg)
          try {
            val (fields, rows) = c.query(q)
            val types = schemaOf(fields).fields.map(_.dataType)
            rows.map(r => Row.fromSeq(r.toIndexedSeq.zip(types.toIndexedSeq)
              .map { case (v, t) => decode(v, t) })).toVector
          } finally c.close()
        }
    }
    spark.createDataFrame(rdd, schema)
  }
}
